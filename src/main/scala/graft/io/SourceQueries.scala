package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Gate

/** Gate queries for the source readers (SURVEY §2.1). The driver's
  * sfDir holds only parquet, so the text-format readers run over the
  * embedded fixtures. Each query's DuckDB oracle embeds the SAME raw
  * fixture text as a VALUES CTE (generated from the one Scala constant)
  * and re-derives the parse in SQL — an independent check of the parse
  * semantics, not just a row count. The two filesystem queries (S15,
  * J9) are oracled through DuckDB's glob(); `__SFDIR__` is substituted
  * with the run's data dir by graft.Verify at dump time. */
object SourceQueries {

  private def lines(s: SparkSession, text: String): Dataset[String] = {
    import s.implicits._
    s.createDataset(text.split("\n").toSeq)
  }

  private def whole(s: SparkSession, text: String): Dataset[String] = {
    import s.implicits._
    s.createDataset(Seq(text))
  }

  /** SQL single-quoted string literal (embedded fixture text may
    * contain newlines/tabs — legal inside DuckDB string literals). */
  private def lit1(s: String): String = "'" + s.replace("'", "''") + "'"

  /** S6: HMMER tblout parse (comment skip + split-N + multiword
    * description). */
  private def s6Tblout(s: SparkSession, d: String): DataFrame =
    Readers.parseTblout(lines(s, Fixtures.tblout))

  /** S11: FASTA parse with length + GC%. */
  private def s11Fasta(s: SparkSession, d: String): DataFrame =
    Readers.parseFastaText(whole(s, Fixtures.fasta))

  /** S12: FASTQ 4-line record parse. */
  private def s12Fastq(s: SparkSession, d: String): DataFrame =
    Readers.parseFastq(lines(s, Fixtures.fastq))

  /** S1+W2 composed: blast-m8 ingest then diamond tophit selection
    * (reference `postgres.Rmd:297-354`: read m8, `slice_min(evalue)`
    * per gene with deterministic tie-break). */
  private def s1M8Tophit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("qseqid")
      .orderBy(col("evalue").asc, col("sseqid").asc)
    Readers.parseM8(lines(s, Fixtures.m8))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("qseqid", "sseqid", "evalue", "pident")
  }

  /** S7: seqkit stats -a -T parse (load_stats semantics: header
    * recognized, text cols verbatim, numerics typed). */
  private def s7Seqkit(s: SparkSession, d: String): DataFrame =
    Readers.parseSeqkitStats(lines(s, Fixtures.seqkitStats))

  /** S13 + Markers: idxstats parse (name cleanup, '*' bucket dropped)
    * into per-marker RPM/RPKM against the sample read total
    * (`summarize_marker_gene_read_mapping.R:43-52`). */
  private def s13Idxstats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val totals = Seq(("samp_9", 1000L)).toDF("sample", "total_reads")
    graft.ops.Markers.markerMetrics(
      Readers.parseIdxstats(lines(s, Fixtures.idxstats)), totals,
      "samp_9")
  }

  /** S4 + scalars: BBMap .rpkm ingest — skip 4 metadata lines, parse
    * the '#Name'-headed table, split the prodigal gene header
    * (` # `-fields, `;`-separated key=value tail, `^.*=` strip), and
    * per-file TPM from FPKM (`postgres.Rmd:1189-1203`
    * read_gene_abundance). */
  private def s4RpkmSkip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("gene_header", StringType),
      StructField("length", LongType), StructField("bases", LongType),
      StructField("coverage", DoubleType),
      StructField("reads", LongType), StructField("rpkm", DoubleType),
      StructField("frags", LongType), StructField("fpkm", DoubleType)))
    val body = Readers.parseSeparated(
        Readers.skipLines(lines(s, Fixtures.rpkm), 4), schema)
      .filter(col("gene_header") =!= "#Name")
    val p = split(col("gene_header"), " # ")
    val kv = split(element_at(p, 5), ";")
    def stripKey(i: Int) =
      regexp_replace(element_at(kv, i), "^.*=", "")
    body.select(
        element_at(p, 1).as("gene"),
        stripKey(1).as("id"),
        stripKey(2).as("partial"),
        stripKey(3).as("start_type"),
        stripKey(6).try_cast("double").as("gc_content"),
        col("fpkm"))
      .withColumn("contig",
        concat(lit("samp_9_"), split(col("id"), "_").getItem(0)))
      // global window = this fixture is ONE .rpkm file; the production
      // loader (WarehouseIngest.geneAbundIngest) partitions the same
      // TPM window by input file, so no single-partition collapse there
      .withColumn("tpm",
        col("fpkm") * lit(1e6) /
          // attribute-derived constant key: a foldable one would be
          // optimizer-eliminated and re-trigger the single-partition
          // warning this sanctioned fixture window is exempt from.
          // coalesce keeps the key TOTAL — substring(NULL) is NULL and
          // null-id rows would otherwise split into their own partition
          sum(col("fpkm")).over(
            Window.partitionBy(
              substring(coalesce(col("id"), lit("")), 0, 0))))
  }

  /** S15: filesystem catalog of the sfDir as a table (name columns —
    * the subset DuckDB's glob() can independently re-derive). */
  private def s15Catalog(s: SparkSession, d: String): DataFrame =
    Readers.fileCatalog(s, d).filter(col("is_parquet"))
      .select("file_name", "table_name")

  /** S15c: catalog mtime/size — the reference's `file.info` idiom
    * (staleness flows, `postgres.Rmd:2114-2126`). DuckDB's glob() has
    * no stat columns, so the oracle re-derives this result from the
    * raw catalog dump S15d writes in the same Verify run (filter +
    * projection re-applied in SQL over `__OUTDIR__`): two independent
    * filesystem listings that must agree column-for-column. */
  private def s15cCatalogMtime(s: SparkSession, d: String): DataFrame =
    Readers.fileCatalog(s, d).filter(col("is_parquet"))
      .select("table_name", "size_bytes", "mtime")

  /** S15d: the unfiltered catalog with stat columns, dumped so the
    * S15c oracle has a DuckDB-readable stat source (rows-only itself —
    * it IS the dump). */
  private def s15dCatalogDump(s: SparkSession, d: String): DataFrame =
    Readers.fileCatalog(s, d)

  /** K10: compaction plan over the data dir's own catalog — ≈256 KiB
    * rewrite bins; oracle replays the same cumsum binning over the
    * S15d stat dump (the s15c conditioned-oracle pattern). */
  private def k10Compaction(s: SparkSession, d: String): DataFrame =
    Writers.compactionPlan(Readers.fileCatalog(s, d), 256L * 1024)

  /** S8: JSON ingest (runinfo; layout PAIRED/SINGLE detection feeds the
    * reference's dynamic fan-out, `Snakefile:150-164`). */
  private def s8Json(s: SparkSession, d: String): DataFrame =
    s.read.json(lines(s, Fixtures.runinfoJson.mkString("\n")))
      .select(col("run"), col("library_layout"),
        col("spots").cast("long").as("spots"),
        col("bases").cast("long").as("bases"),
        (col("library_layout") === "PAIRED").as("is_paired"))

  /** J9: file-existence as a join (reference `is_cluster_rep =
    * fs::file_exists(...)` `postgres.Rmd:1027`): expected table list ⟕
    * the filesystem catalog → presence flag. */
  private def j9FileJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected = graft.Tables.names.toDF("table_name")
    expected.join(
        Readers.fileCatalog(s, d).filter(col("is_parquet")),
        Seq("table_name"), "left")
      .select(col("table_name"), col("file_name").isNotNull.as("present"))
  }

  /** S15b: path-template parse via input_file_name — the unglue analog
    * (reference `unglue_data("data/omics/{sample_type}/{sample}/…")`
    * `postgres.Rmd:242`): recover the table name from the file path of
    * each scanned row. */
  private def s15bInputFile(s: SparkSession, d: String): DataFrame =
    graft.io.Inputs.t(s, d, "lineitem")
      .select(regexp_extract(input_file_name(), "([a-z]+)\\.parquet", 1)
        .as("table_from_path"))
      .groupBy("table_from_path")
      .agg(count(lit(1)).as("n_rows"))

  /** WARC/WET: web-archive record framing (the Common Crawl source
    * boundary). Whole-member text → framed records; the fixture
    * carries warcinfo/conversion/response types plus two malformed
    * probes (no Content-Length; truncated body). Runs the PRODUCTION
    * length-directed parser; the oracle replays the regex twin —
    * identical on spec-conforming members (WarcSpec pins the one
    * divergence: payloads embedding a version line, which the fixture
    * deliberately avoids so this cross-form check stays valid). */
  private def sWarcParse(s: SparkSession, d: String): DataFrame =
    Readers.parseWarcRecords(whole(s, Fixtures.warc))

  /** WARC → curation chain, end-to-end on the parsed records: keep
    * valid WET conversion records, recover the host from the target
    * URI, exact-dedup payloads by fingerprint (canonical min
    * record_id) — the front of the CorpusBuild pipeline running off
    * raw archive bytes instead of a ready-made documents table. */
  private def sWarcWetCurate(s: SparkSession, d: String): DataFrame = {
    val wet = Readers.parseWarcRecords(whole(s, Fixtures.warc))
      .filter(col("warc_type") === "conversion" && col("is_valid"))
      .select(col("record_id"), col("url"), col("payload"))
      .withColumn("host",
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
      .withColumn("fp", md5(col("payload")))
    val wFp = Window.partitionBy("fp")
    wet.withColumn("keep_id", min("record_id").over(wFp))
      .filter(col("record_id") === col("keep_id"))
      .select(col("record_id"), col("host"),
        length(col("payload")).cast("int").as("n_chars"), col("fp"))
  }

  /** WARC over a COMPRESSED member (`.wet.gz` — the form Common Crawl
    * actually ships): the fixture staged once as a gzip file, read
    * through the full production path (wholetext text source →
    * codec-by-extension decode → length-directed framing). The oracle
    * replays the framing over the uncompressed literal, so any decode
    * drift on the Spark side hash-mismatches. Staging is atomic
    * (write-aside + move) so a concurrent Verify/Bench never scans a
    * half-written member. */
  private def sWarcGzParse(s: SparkSession, d: String): DataFrame = {
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(Fixtures.warc.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    Readers.readWarc(s, stageFixtureDir("graft_warc_gz_gate",
      Fixtures.warc.getBytes("UTF-8"), "member0.wet.gz", gzBytes))
  }

  /** Stage fixture bytes as a one-member directory under tmp, the
    * DIRECTORY name keyed by a hash of the fixture content — a
    * fixture change re-stages automatically instead of leaving a
    * stale member for the gate to read against a fresh oracle
    * (r16 ADVICE). Staging is atomic (write-aside + move) so a
    * concurrent Verify/Bench never scans a half-written member. */
  private def stageFixtureDir(base: String, keyBytes: Array[Byte],
      fileName: String, contents: Array[Byte]): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(keyBytes).map("%02x".format(_)).mkString.take(12)
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"$base-$key")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve(fileName)
    if (!java.nio.file.Files.exists(f)) {
      val tmp = java.nio.file.Files.createTempFile("graft_stage", ".tmp")
      java.nio.file.Files.write(tmp, contents)
      try java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // another run staged it first — theirs is identical
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    dir.toString
  }

  /** The mixed-charset BINARY member staged on disk, read through
    * `readWarcBinary` (binaryFiles → byte cursor). */
  private def warcMixedParsed(s: SparkSession): DataFrame =
    Readers.readWarcBinary(s, stageFixtureDir("graft_warc_bin_gate",
      Fixtures.warcMixed, "member0.warc", Fixtures.warcMixed))

  /** s_warc_bin_parse: BYTE-FAITHFUL framing of the mixed member
    * (UTF-8 + Latin-1 + Windows-1252 pages, a binary BMP response, a
    * revisit record) — record metadata plus the payload's exact
    * octets as hex, so one wrong byte anywhere hash-mismatches. The
    * oracle replays the per-record components the member was framed
    * FROM, so the check is the concat→frame round trip. */
  private def sWarcBinParse(s: SparkSession, d: String): DataFrame =
    warcMixedParsed(s)
      .select(col("record_id"), col("warc_type"), col("url"),
        col("content_type"), col("content_length"), col("is_valid"),
        hex(col("payload")).as("payload_hex"),
        length(col("payload")).cast("long").as("n_bytes"))

  /** s_warc_charset_text: the charset-dispatch decode stage — HTTP
    * Content-Type charset parameter → exact body octets →
    * `Html.decodeBytes`. The oracle embeds the ORIGINAL page
    * strings (never byte-encoded), so the gate verifies the whole
    * encode→frame→dispatch→decode round trip recovers them. */
  private def sWarcCharsetText(s: SparkSession, d: String): DataFrame = {
    import graft.text.Html
    val carrier = Html.httpCarrier(col("payload"))
    warcMixedParsed(s)
      .filter(col("warc_type") === "response" && col("is_valid") &&
        col("content_type").startsWith("application/http"))
      .withColumn("http_ct", Html.httpContentType(carrier))
      .filter(col("http_ct").contains("text/html"))
      .withColumn("charset", Html.charsetOf(col("http_ct")))
      .withColumn("text", Html.decodeBytes(
        Html.httpBodyBytes(Html.httpCarrier(col("payload"))),
        col("charset")))
      .select(col("record_id"), col("url"), col("charset"),
        col("text"), length(col("text")).cast("long").as("n_chars"))
  }

  /** s_warc_bin_curate: charset decode UNLOCKS dedup — the same page
    * served UTF-8 and Latin-1 has different raw bytes, so only the
    * decode + the engine's own extraction can collapse the pair to
    * one fingerprint (the binary-member analog of the mirror-page
    * gate). */
  private def sWarcBinCurate(s: SparkSession, d: String): DataFrame = {
    import graft.text.Html
    val docs = Html.extractText(
      warcMixedParsed(s)
        .filter(col("warc_type") === "response" && col("is_valid") &&
          col("content_type").startsWith("application/http"))
        .withColumn("http_ct",
          Html.httpContentType(Html.httpCarrier(col("payload"))))
        .filter(col("http_ct").contains("text/html"))
        .withColumn("html", Html.httpBodyText(col("payload"))),
      "html", Seq("record_id", "url"))
      .withColumn("fp", md5(col("text")))
    val wFp = Window.partitionBy("fp")
    docs.withColumn("keep_id", min("record_id").over(wFp))
      .filter(col("record_id") === col("keep_id"))
      .select(col("record_id"), col("url"), col("n_blocks"),
        col("n_chars"), col("fp"))
  }

  // ---- DuckDB oracles ----

  private def m8Oracle: String = {
    val vals = Fixtures.m8.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0),
     t AS (SELECT f[1] AS qseqid, f[3] AS sseqid,
             CAST(f[9] AS DOUBLE) AS evalue,
             CAST(f[10] AS REAL) AS pident FROM p),
     r AS (SELECT *, row_number() OVER (PARTITION BY qseqid
             ORDER BY evalue ASC, sseqid ASC) AS rn FROM t)
     SELECT qseqid, sseqid, evalue, pident FROM r WHERE rn = 1"""
  }

  private def tbloutOracle: String = {
    val vals = Fixtures.tblout.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    // 15 \S+ fields then the line remainder — the Python split-N
    // semantics of Readers.parseTblout (SURVEY §7.4 risk 3)
    val pat = "^" + Seq.fill(15)("(\\S+)").mkString("\\s+") +
      "\\s+(.*)$"
    val fields = Seq(
      "target_name" -> "VARCHAR", "target_accession" -> "VARCHAR",
      "query_name" -> "VARCHAR", "query_accession" -> "VARCHAR",
      "hmmfrom" -> "INT", "hmm_to" -> "INT", "alifrom" -> "INT",
      "ali_to" -> "INT", "envfrom" -> "INT", "env_to" -> "INT",
      "sq_len" -> "INT", "strand" -> "VARCHAR", "evalue" -> "DOUBLE",
      "score" -> "DOUBLE", "bias" -> "DOUBLE",
      "description" -> "VARCHAR")
    // DuckDB's numbered-group regexp_extract caps at group 9; the
    // named-group (struct) variant has no such cap
    val names = fields.map { case (n, _) => s"'$n'" }.mkString(", ")
    val cols = fields.map { case (name, typ) =>
      if (typ == "VARCHAR") s"g.$name AS $name"
      else s"CAST(g.$name AS $typ) AS $name"
    }.mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT regexp_extract(trim(line), '$pat', [$names]) AS g
           FROM raw
           WHERE NOT starts_with(line, '#')
             AND length(trim(line)) > 0)
     SELECT $cols FROM p"""
  }

  private def jsonOracle: String = {
    val vals = Fixtures.runinfoJson.map(lit1).map(l => s"($l)")
      .mkString(", ")
    s"""WITH raw(j) AS (VALUES $vals)
     SELECT json_extract_string(j, '$$.run') AS run,
       json_extract_string(j, '$$.library_layout') AS library_layout,
       CAST(json_extract(j, '$$.spots') AS BIGINT) AS spots,
       CAST(json_extract(j, '$$.bases') AS BIGINT) AS bases,
       (json_extract_string(j, '$$.library_layout') = 'PAIRED')
         AS is_paired
     FROM raw"""
  }

  private def fastaOracle: String =
    s"""WITH raw(value) AS (VALUES (${lit1(Fixtures.fasta)})),
     rec AS (SELECT unnest(string_split_regex(value, '(?m)^>|\\n>'))
               AS rec FROM raw),
     f AS (SELECT rec FROM rec WHERE length(trim(rec)) > 0),
     p AS (SELECT
         regexp_extract(rec, '^(\\S+)', 1) AS id,
         trim(regexp_extract(rec, '^\\S+[ \\t]*([^\\n]*)', 1)) AS "desc",
         regexp_replace(regexp_replace(rec, '^[^\\n]*\\n?', ''),
           '\\s', '', 'g') AS seq
       FROM f)
     SELECT id, "desc", seq, CAST(length(seq) AS INT) AS length,
       round(length(regexp_replace(upper(seq), '[^GC]', '', 'g')) *
         CAST(100.0 AS DOUBLE) / length(seq), 4) AS gc_pct
     FROM p WHERE length(seq) > 0"""

  private def fastqOracle: String = {
    val vals = Fixtures.fastq.split("\n").zipWithIndex
      .map { case (l, i) => s"(CAST($i AS BIGINT), ${lit1(l)})" }
      .mkString(", ")
    s"""WITH raw(idx, line) AS (VALUES $vals),
     g AS (SELECT idx // 4 AS rec, idx % 4 AS pos, line FROM raw)
     SELECT rec,
       max(CASE WHEN pos = 0
         THEN regexp_replace(line, '^@', '') END) AS id,
       max(CASE WHEN pos = 1 THEN line END) AS seq,
       max(CASE WHEN pos = 3 THEN line END) AS qual,
       CAST(length(max(CASE WHEN pos = 1 THEN line END)) AS INT)
         AS length
     FROM g GROUP BY rec"""
  }

  private def seqkitOracle: String = {
    val vals = Fixtures.seqkitStats.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0)
     SELECT f[1] AS "file", f[2] AS format, f[3] AS "type",
       CAST(f[4] AS BIGINT) AS num_seqs, CAST(f[5] AS BIGINT) AS sum_len,
       CAST(f[6] AS BIGINT) AS min_len, CAST(f[7] AS DOUBLE) AS avg_len,
       CAST(f[8] AS BIGINT) AS max_len, CAST(f[9] AS DOUBLE) AS q1,
       CAST(f[10] AS DOUBLE) AS q2, CAST(f[11] AS DOUBLE) AS q3,
       CAST(f[12] AS BIGINT) AS sum_gap, CAST(f[13] AS BIGINT) AS n50,
       CAST(f[14] AS DOUBLE) AS q20_pct, CAST(f[15] AS DOUBLE) AS q30_pct,
       CAST(f[16] AS DOUBLE) AS avg_qual, CAST(f[17] AS DOUBLE) AS gc_pct
     FROM p WHERE f[1] <> 'file'"""
  }

  private def idxstatsOracle: String = {
    val vals = Fixtures.idxstats.split("\n").map(lit1)
      .map(l => s"($l)").mkString(", ")
    s"""WITH raw(line) AS (VALUES $vals),
     p AS (SELECT string_split(line, chr(9)) AS f FROM raw
           WHERE length(trim(line)) > 0),
     t AS (SELECT
         replace(string_split(f[1], ';')[1], '-', '_') AS seqnames,
         CAST(f[2] AS BIGINT) AS seqlength,
         CAST(f[3] AS BIGINT) AS mapped,
         CAST(f[4] AS BIGINT) AS unmapped
       FROM p),
     m AS (SELECT 'samp_9' AS sample, *,
         CAST(1000 AS BIGINT) AS total_reads,
         (mapped * 1000000.0) / 1000 AS rpm
       FROM t WHERE seqnames <> '*')
     SELECT sample, seqnames, seqlength, mapped, unmapped, total_reads,
       rpm, (rpm * 1000.0) / seqlength AS rpkm
     FROM m"""
  }

  private def rpkmOracle: String = {
    val vals = Fixtures.rpkm.split("\n").zipWithIndex
      .map { case (l, i) => s"(CAST($i AS BIGINT), ${lit1(l)})" }
      .mkString(", ")
    s"""WITH raw(idx, line) AS (VALUES $vals),
     body AS (SELECT line FROM raw WHERE idx >= 4
              AND length(trim(line)) > 0),
     p AS (SELECT string_split(line, chr(9)) AS f FROM body),
     t AS (SELECT f[1] AS gene_header, CAST(f[8] AS DOUBLE) AS fpkm
           FROM p WHERE f[1] <> '#Name'),
     g AS (SELECT string_split(gene_header, ' # ') AS gp, fpkm FROM t),
     k AS (SELECT gp[1] AS gene, string_split(gp[5], ';') AS kv, fpkm
           FROM g),
     cols AS (SELECT gene,
         regexp_replace(kv[1], '^.*=', '') AS id,
         regexp_replace(kv[2], '^.*=', '') AS partial,
         regexp_replace(kv[3], '^.*=', '') AS start_type,
         CAST(regexp_replace(kv[6], '^.*=', '') AS DOUBLE)
           AS gc_content,
         fpkm
       FROM k)
     SELECT *,
       'samp_9_' || string_split(id, '_')[1] AS contig,
       fpkm * 1000000.0 / sum(fpkm) OVER () AS tpm
     FROM cols"""
  }

  /** Shared DuckDB replay of the WARC record framing (same regexes as
    * `Readers.parseWarcText`; the fixture's payloads are ASCII so
    * DuckDB's char substring matches the parser's octet cut — the
    * multi-byte case is WarcSpec's, not the oracle's). Yields CTE `w`
    * with the full parse schema. Multi-member form used by the
    * streaming WARC gate's oracle (`Streams`). */
  private[graft] def warcCteFor(members: Seq[String]): String = {
    val vals = members.map(m => s"(${lit1(m)})").mkString(", ")
    s"""raw(value) AS (VALUES $vals),
     rec AS (SELECT unnest(string_split_regex(value,
               '(?m)^WARC/1\\.[01]\\r?\\n')) AS rec FROM raw),
     f AS (SELECT rec FROM rec WHERE length(trim(rec)) > 0),
     hb AS (SELECT
         regexp_extract(rec, '(?s)^(.*?)\\r?\\n\\r?\\n', 1) AS header,
         regexp_replace(rec, '(?s)^.*?\\r?\\n\\r?\\n', '') AS body
       FROM f),
     p AS (SELECT
         nullif(regexp_extract(header,
           '(?m)^WARC-Record-ID:\\s*<([^>]*)>', 1), '') AS record_id,
         nullif(regexp_extract(header,
           '(?m)^WARC-Type:\\s*(\\S+)', 1), '') AS warc_type,
         nullif(regexp_extract(header,
           '(?m)^WARC-Target-URI:\\s*(\\S+)', 1), '') AS url,
         CAST(strptime(nullif(regexp_extract(header,
             '(?m)^WARC-Date:\\s*(\\S+)', 1), ''),
           '%Y-%m-%dT%H:%M:%SZ') AS TIMESTAMP) AS warc_date,
         nullif(regexp_extract(header,
           '(?m)^Content-Type:\\s*(\\S+)', 1), '') AS content_type,
         CAST(nullif(regexp_extract(header,
           '(?m)^Content-Length:\\s*(\\d+)', 1), '') AS BIGINT)
           AS content_length,
         body
       FROM hb),
     v AS (SELECT *, (warc_type IS NOT NULL
           AND content_length IS NOT NULL
           AND length(body) >= content_length) AS is_valid FROM p),
     w AS (SELECT record_id, warc_type, url, warc_date, content_type,
         content_length,
         CASE WHEN is_valid THEN
           substring(body, 1, CAST(content_length AS INT)) END
           AS payload,
         is_valid
       FROM v)"""
  }

  private def warcCte: String = warcCteFor(Seq(Fixtures.warc))

  /** Binary-member framing oracle: the per-record components the
    * member was CONCATENATED from, re-stated with the payload octets
    * as hex — Spark's frame of the member must recover exactly these
    * (the concat→frame round trip; DuckDB recomputes the byte
    * length from the hex). */
  private def warcBinParseOracle: String = {
    val rows = Fixtures.warcMixedRecs.map { r =>
      val uri = if (r.uri.isEmpty) "NULL" else lit1(r.uri)
      val hexs = r.payload.map("%02X".format(_)).mkString
      s"(${lit1(r.id)}, ${lit1(r.typ)}, $uri, ${lit1(r.ctype)}, " +
        s"${r.payload.length}, true, '$hexs')"
    }.mkString(",\n       ")
    s"""WITH recs(record_id, warc_type, url, content_type,
       content_length, is_valid, payload_hex) AS (VALUES $rows)
     SELECT record_id, warc_type, url, content_type,
       CAST(content_length AS BIGINT) AS content_length, is_valid,
       payload_hex,
       CAST(octet_length(from_hex(payload_hex)) AS BIGINT) AS n_bytes
     FROM recs"""
  }

  /** Decoded rows the charset gate must produce: the ORIGINAL page
    * strings (the oracle never sees the encoded bytes, so a correct
    * result proves the encode→frame→dispatch→decode round trip). */
  private def warcCharsetRows: Seq[(String, String, String, String)] =
    Seq(
      ("urn:uuid:bin-utf8", "http://utf8.example.com/cafe",
        "utf-8", Fixtures.pageAccents),
      ("urn:uuid:bin-latin1", "http://latin1.example.net/cafe-mirror",
        "iso-8859-1", Fixtures.pageAccents),
      ("urn:uuid:bin-win1252", "http://quotes.example.org/digest",
        "windows-1252", Fixtures.pageCurly))

  private def warcCharsetTextOracle: String = {
    val rows = warcCharsetRows.map { case (id, url, cs, text) =>
      s"(${lit1(id)}, ${lit1(url)}, ${lit1(cs)}, ${lit1(text)})"
    }.mkString(",\n       ")
    s"""WITH t(record_id, url, charset, text) AS (VALUES $rows)
     SELECT record_id, url, charset, text,
       CAST(length(text) AS BIGINT) AS n_chars FROM t"""
  }

  /** The extraction + exact-dedup chain replayed over the DECODED
    * page literals (framing + decode covered by the two oracles
    * above; this one proves decode unlocks the collapse). */
  private def warcBinCurateOracle: String = {
    val rows = warcCharsetRows.map { case (id, url, _, html) =>
      s"(${lit1(id)}, ${lit1(url)}, ${lit1(html)})"
    }.mkString(",\n       ")
    s"""WITH body(record_id, url, html) AS (VALUES $rows),
     ${graft.text.Html.extractionCtesFromBody},
     docs AS (
       SELECT record_id, url,
         string_agg(text, chr(10) ORDER BY block_idx) AS text,
         CAST(count(*) AS BIGINT) AS n_blocks
       FROM blocks GROUP BY record_id, url),
     hh AS (SELECT record_id, url, text, n_blocks, md5(text) AS fp
            FROM docs),
     k AS (SELECT *, min(record_id) OVER (PARTITION BY fp) AS keep_id
           FROM hh)
     SELECT record_id, url, n_blocks,
       CAST(length(text) AS BIGINT) AS n_chars, fp
     FROM k WHERE record_id = keep_id"""
  }

  private def warcParseOracle: String =
    s"""WITH $warcCte
     SELECT * FROM w"""

  private def warcCurateOracle: String =
    s"""WITH $warcCte,
     wet AS (SELECT record_id, url, payload FROM w
             WHERE warc_type = 'conversion' AND is_valid),
     h AS (SELECT record_id,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
         payload, md5(payload) AS fp FROM wet),
     k AS (SELECT *, min(record_id) OVER (PARTITION BY fp) AS keep_id
           FROM h)
     SELECT record_id, host, CAST(length(payload) AS INT) AS n_chars,
       fp
     FROM k WHERE record_id = keep_id"""

  private val catalogOracle: String =
    """SELECT parse_filename(file) AS file_name,
       regexp_extract(parse_filename(file), '^(.+)\.parquet$', 1)
         AS table_name
     FROM glob('__SFDIR__/*.parquet')"""

  private def fileJoinOracle: String = {
    val vals = graft.Tables.names.map(n => s"('$n')").mkString(", ")
    s"""WITH expected(table_name) AS (VALUES $vals),
     cat AS (SELECT regexp_extract(parse_filename(file),
               '^(.+)\\.parquet$$', 1) AS table_name
             FROM glob('__SFDIR__/*.parquet'))
     SELECT e.table_name, (c.table_name IS NOT NULL) AS present
     FROM expected e LEFT JOIN cat c ON e.table_name = c.table_name"""
  }

  val gates: Seq[Gate] = Seq(
    Gate("s_warc_parse", sWarcParse _, Some(warcParseOracle)),
    // gz gate reads the SAME member through gzip: one framing truth
    Gate("s_warc_gz_parse", sWarcGzParse _, Some(warcParseOracle)),
    Gate("s_warc_wet_curate", sWarcWetCurate _, Some(warcCurateOracle)),
    Gate("s_warc_bin_parse", sWarcBinParse _, Some(warcBinParseOracle)),
    Gate("s_warc_charset_text", sWarcCharsetText _,
      Some(warcCharsetTextOracle)),
    Gate("s_warc_bin_curate", sWarcBinCurate _, Some(warcBinCurateOracle)),
    Gate("s15b_input_file_name", s15bInputFile _, Some(
      "SELECT 'lineitem' AS table_from_path, count(*) AS n_rows FROM lineitem")),
    Gate("s15c_catalog_mtime", s15cCatalogMtime _, Some(
      """SELECT table_name, size_bytes, mtime
       FROM '__OUTDIR__/s15d_catalog_dump/*.parquet'
       WHERE is_parquet""")),
    Gate("s15d_catalog_dump", s15dCatalogDump _),
    Gate("s4_rpkm_skip", s4RpkmSkip _, Some(rpkmOracle)),
    Gate("s7_seqkit_stats", s7Seqkit _, Some(seqkitOracle)),
    Gate("s13_idxstats_rpkm", s13Idxstats _, Some(idxstatsOracle)),
    Gate("s6_tblout_parse", s6Tblout _, Some(tbloutOracle)),
    Gate("s11_fasta_parse", s11Fasta _, Some(fastaOracle)),
    Gate("s12_fastq_parse", s12Fastq _, Some(fastqOracle)),
    Gate("s1_m8_tophit", s1M8Tophit _, Some(m8Oracle)),
    Gate("s15_file_catalog", s15Catalog _, Some(catalogOracle)),
    Gate("k10_compaction_plan", k10Compaction _, Some(
      """WITH f AS (
         SELECT file_name, size_bytes
         FROM '__OUTDIR__/s15d_catalog_dump/*.parquet'
         WHERE is_parquet),
       r AS (
         SELECT file_name, size_bytes,
           sum(size_bytes) OVER (ORDER BY size_bytes DESC, file_name
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS running
         FROM f)
       SELECT CAST(floor((running - size_bytes) / 262144.0) AS BIGINT)
           AS bin,
         count(*) AS n_files,
         CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
         min(file_name) AS first_file
       FROM r GROUP BY 1""")),
    Gate("s8_json_parse", s8Json _, Some(jsonOracle)),
    Gate("j9_file_exists_join", j9FileJoin _, Some(fileJoinOracle)))
}
