package graft.io

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source readers S1-S15 (SURVEY §2.1) — the ~15 tabular/semistructured
  * formats the reference's loaders parse.
  *
  * Text-record formats (FASTA/FASTQ/tblout) are implemented as
  * column-expression parsers over `Dataset[String]` lines wherever the
  * record is line-delimited, falling back to RDD zipWithIndex only for
  * FASTQ's positional 4-line records (the documented mapPartitions-last
  * resort, SURVEY §2.10). All parsers work identically on
  * `spark.read.textFile(path)` input (distributed) and on embedded
  * fixture datasets (tests / gate queries).
  */
object Readers {

  // ---- S1/S3: schema'd separated text (the reference's
  //      read_tsv/read_csv(col_names=...)) ----

  def tsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false, comment: Char = '#',
      sep: String = "\t"): DataFrame =
    spark.read
      .option("sep", sep)
      .option("header", header.toString)
      .option("comment", comment.toString) // S4/S5 comment-skip
      .schema(schema)
      .csv(path)

  /** S3: comma-separated variant (reference `read_csv`/`write_csv`,
    * e.g. `make_das_and_drep_inputs.R:115` genome_info.csv). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    tsv(spark, path, schema, header, sep = ",")

  /** S4: skip the first `n` FILE-ORDER lines (the reference's
    * `read_tsv(skip = n)`, `postgres.Rmd:1191,1283`). Spark's CSV
    * reader has no skip option, so this works at the line layer —
    * zipWithIndex preserves file order the same way parseFastq's
    * record grouping does. Skip-N files are headers-above-a-table,
    * read per file. */
  def skipLines(lines: Dataset[String], n: Long): Dataset[String] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.rdd.zipWithIndex()
      .filter { case (_, idx) => idx >= n }
      .map(_._1).toDS()
  }

  /** Parse separator-delimited lines against a schema with try-casts
    * (malformed values → null, never an ANSI abort). The Dataset-line
    * twin of `tsv` for embedded fixtures and post-skipLines input. */
  def parseSeparated(lines: Dataset[String], schema: StructType,
      sep: String = "\t"): DataFrame = {
    val parts = split(col("value"), java.util.regex.Pattern.quote(sep))
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      try_element_at(parts, lit(i + 1)).try_cast(f.dataType.sql)
        .as(f.name)
    }
    lines.toDF("value").filter(length(trim(col("value"))) > 0)
      .select(cols.toSeq: _*)
  }

  /** blast-m8 13-column schema (reference `postgres.Rmd:309-313`). */
  val m8Schema: StructType = StructType(Seq(
    StructField("qseqid", StringType), StructField("qlen", IntegerType),
    StructField("sseqid", StringType), StructField("slen", IntegerType),
    StructField("qstart", IntegerType), StructField("qend", IntegerType),
    StructField("sstart", IntegerType), StructField("send", IntegerType),
    StructField("evalue", DoubleType), StructField("pident", FloatType),
    StructField("mismatch", IntegerType),
    StructField("qcovhsp", FloatType), StructField("scovhsp", FloatType)))

  /** Parse m8 lines (tab-separated, no header) from any string Dataset.
    * try-variants keep malformed lines as nulls under ANSI mode. */
  def parseM8(lines: Dataset[String]): DataFrame = {
    val cols = m8Schema.fields.zipWithIndex.map { case (f, i) =>
      try_element_at(split(col("value"), "\t"), lit(i + 1))
        .try_cast(f.dataType.sql).as(f.name)
    }
    lines.toDF("value").filter(length(trim(col("value"))) > 0)
      .select(cols.toSeq: _*)
  }

  /** mmseqs tophit report 9 cols (reference `postgres.Rmd:386-391`). */
  val tophitSchema: StructType = StructType(Seq(
    StructField("target", StringType),
    StructField("num_seqs_aligned", IntegerType),
    StructField("unique_coverage_of_target", DoubleType),
    StructField("target_coverage", DoubleType),
    StructField("average_seq_identity", DoubleType),
    StructField("taxonomy", IntegerType),
    StructField("rank", StringType),
    StructField("tax_name", StringType),
    StructField("lineage", StringType)))

  // ---- S7: seqkit stats -a -T ----

  /** `seqkit stats -a -T` columns (reference `pypelib/utils.py:52-95`
    * load_stats: TEXT_COLS = file/format/type, the rest numeric with
    * int-or-float fallback → integral counts as BIGINT, the
    * fractional stats as DOUBLE). Output names are snake_cased
    * (Q20(%) → q20_pct …) — the reference's own rename-map idiom (S2),
    * and parquet-safe. */
  val seqkitStatsSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("format", StringType),
    StructField("type", StringType),
    StructField("num_seqs", LongType), StructField("sum_len", LongType),
    StructField("min_len", LongType), StructField("avg_len", DoubleType),
    StructField("max_len", LongType), StructField("q1", DoubleType),
    StructField("q2", DoubleType), StructField("q3", DoubleType),
    StructField("sum_gap", LongType), StructField("n50", LongType),
    StructField("q20_pct", DoubleType), StructField("q30_pct", DoubleType),
    StructField("avg_qual", DoubleType), StructField("gc_pct", DoubleType)))

  /** Parse seqkit-stats lines (tab-separated WITH header; the header
    * row is recognized by its `file` first field, not by position —
    * order-safe after any shuffle). */
  def parseSeqkitStats(lines: Dataset[String]): DataFrame =
    parseSeparated(lines, seqkitStatsSchema)
      .filter(col("file") =!= "file")

  // ---- S13: samtools idxstats ----

  /** idxstats columns (reference `Rsamtools::idxstatsBam`,
    * `summarize_marker_gene_read_mapping.R:43`): headerless 4-col TSV;
    * `*` row = unmapped bucket. */
  val idxstatsSchema: StructType = StructType(Seq(
    StructField("seqnames", StringType),
    StructField("seqlength", LongType),
    StructField("mapped", LongType),
    StructField("unmapped", LongType)))

  /** Parse idxstats lines, applying the reference's name cleanup
    * (`str_remove(";.*") + str_replace_all("-", "_")`, R lines 50-52)
    * and dropping the `*` bucket when `dropUnmapped`. */
  def parseIdxstats(lines: Dataset[String],
      dropUnmapped: Boolean = true): DataFrame = {
    val parsed = parseSeparated(lines, idxstatsSchema)
      .withColumn("seqnames",
        regexp_replace(regexp_extract(col("seqnames"), "^([^;]*)", 1),
          "-", "_"))
    if (dropUnmapped) parsed.filter(col("seqnames") =!= "*") else parsed
  }

  // ---- S6: whitespace-aligned HMMER tblout ----

  /** nhmmscan tblout field names (positional; reference
    * `pypelib/amplicon/alignment.py:103-113`). The final `description`
    * field is the line remainder (multi-word), exactly the Python
    * split-N semantics SURVEY §7.4 picks over the R fixed-column
    * variant. */
  private val tbloutFields = Seq(
    "target_name", "target_accession", "query_name", "query_accession",
    "hmmfrom", "hmm_to", "alifrom", "ali_to", "envfrom", "env_to",
    "sq_len", "strand", "evalue", "score", "bias")

  def parseTblout(lines: Dataset[String]): DataFrame = {
    val nFixed = tbloutFields.length
    val parts = split(trim(col("value")), "\\s+", nFixed + 1)
    // try_element_at + try-casts: under Spark 4's ANSI mode a short or
    // malformed line must yield nulls, not abort a 100 TB ingest job.
    val typed = tbloutFields.zipWithIndex.map { case (name, i) =>
      val c = try_element_at(parts, lit(i + 1))
      name match {
        case "hmmfrom" | "hmm_to" | "alifrom" | "ali_to" | "envfrom" |
            "env_to" | "sq_len" => c.try_cast("int").as(name)
        case "evalue" | "score" | "bias" => c.try_cast("double").as(name)
        case _ => c.as(name)
      }
    } :+ try_element_at(parts, lit(nFixed + 1)).as("description")
    lines.toDF("value")
      .filter(!col("value").startsWith("#") &&
        length(trim(col("value"))) > 0)
      .select(typed: _*)
  }

  // ---- S11: FASTA ----

  /** GC% of a sequence (reference `AnnotateContigs.pl:235-239`):
    * G+C over sequence length, case-insensitive. */
  def gcPct(seq: Column): Column =
    round(length(regexp_replace(upper(seq), "[^GC]", ""))
      .cast("double") * 100.0 / length(seq), 4)

  /** Parse FASTA from whole-file text: records split on `>`, header =
    * first line (id + optional description), sequence = remaining lines
    * joined. Works on `spark.read.option("wholetext", true).text(dir)`
    * — one task per file, which is the right parallelism for the
    * reference's many-small-FASTA layout (per-sample files). */
  def parseFastaText(fileText: Dataset[String]): DataFrame = {
    fileText.toDF("value")
      .select(explode(split(col("value"), "(?m)^>|\n>")).as("rec"))
      .filter(length(trim(col("rec"))) > 0)
      .select(
        regexp_extract(col("rec"), "^(\\S+)", 1).as("id"),
        trim(regexp_extract(col("rec"), "^\\S+[ \t]*([^\n]*)", 1))
          .as("desc"),
        regexp_replace(
          regexp_replace(col("rec"), "^[^\n]*\n?", ""), "\\s", "")
          .as("seq"))
      .filter(length(col("seq")) > 0)
      .withColumn("length", length(col("seq")).cast("int"))
      .withColumn("gc_pct", gcPct(col("seq")))
  }

  def readFasta(spark: SparkSession, path: String): DataFrame =
    parseFastaText(
      spark.read.option("wholetext", "true").textFile(path))

  // ---- S12: FASTQ (4-line records) ----

  /** FASTQ via RDD zipWithIndex — the one genuinely positional format
    * ('@' can open quality lines, so no delimiter split is safe). The
    * global index groups lines into records of 4; this is the
    * mapPartitions last-resort case of SURVEY §2.10. */
  def parseFastq(lines: Dataset[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.rdd.zipWithIndex()
      .map { case (line, idx) => (idx / 4, idx % 4, line) }
      .toDF("rec", "pos", "line")
      .groupBy("rec")
      .agg(
        max(when(col("pos") === 0,
          regexp_replace(col("line"), "^@", ""))).as("id"),
        max(when(col("pos") === 1, col("line"))).as("seq"),
        max(when(col("pos") === 3, col("line"))).as("qual"))
      .withColumn("length", length(col("seq")).cast("int"))
      // `rec` is the FILE-ORDER record index — downstream pairing logic
      // (checkInterleave) depends on it; row order after the groupBy
      // shuffle is arbitrary, so the index must travel as data.
  }

  /** Interleave-structure validation (reference
    * `pypelib/raw_reads.py:271-338`): consecutive records must pair as
    * (x/1, x/2) or identical ids. Pairs by the `rec` file-order index
    * (NOT by row order, which is shuffle-dependent). Returns offending
    * record pairs. */
  def checkInterleave(fastq: DataFrame): DataFrame =
    fastq
      .withColumn("base_id", regexp_replace(col("id"), "/[12]$", ""))
      .groupBy((col("rec") / 2).cast("long").as("pair"))
      .agg(countDistinct("base_id").as("n_ids"),
        count(lit(1)).as("n_reads"))
      .filter(col("n_ids") =!= 1 || col("n_reads") =!= 2)

  // ---- WARC/WET: web-archive record framing ----

  /** ORACLE TWIN — regex-split record framing, kept because every
    * operation here replays verbatim in DuckDB SQL (the `s_warc_*`
    * gates' oracle CTE is this function, line for line). NOT the
    * production path: splitting on `^WARC/1.[01]` lines mis-frames any
    * record whose PAYLOAD contains such a line (pages quoting WARC,
    * WARC-in-WARC — at crawl scale this occurs), emitting a phantom
    * record where the spec's length-directed framing
    * (`parseWarcRecords`, below) correctly consumes the line as
    * payload octets. WarcSpec pins the divergence on exactly that
    * fixture. On spec-conforming input the two produce identical rows,
    * which is what lets this form stand as the DuckDB oracle.
    *
    * Parse WARC/WET records from whole-file text
    * (`spark.read.option("wholetext", true).text(dir)` — one task per
    * archive member, the FASTA discipline; Common Crawl ships WET as
    * many ~150 MB members, so file-level parallelism is the natural
    * unit at corpus scale).
    *
    * Record framing per ISO 28500: records open with a
    * `WARC/1.0`/`WARC/1.1` version line, named headers follow until
    * the first blank line, then exactly `Content-Length` OCTETS of
    * payload. The octet contract matters: payload truncation is done
    * on the UTF-8 BYTES (binary substring), not characters — a
    * char-based cut would mis-frame any record whose payload holds
    * multi-byte text (WarcSpec pins this). Both CRLF (spec) and bare
    * LF (hand-made fixtures) line endings are accepted.
    *
    * Malformed records (missing WARC-Type/Content-Length, or a body
    * shorter than the declared length — a truncated transfer) are KEPT
    * with `is_valid = false` and a NULL payload rather than dropped:
    * at crawl scale malformation is data you monitor, not noise you
    * hide. Columns: record_id, warc_type, url, warc_date,
    * content_type, content_length, payload, is_valid.
    *
    * Reference analog: the layered record parsers of
    * `pypelib/amplicon/alignment.py:75-119` (header framing + body
    * extraction as separate, checkable stages). */
  def parseWarcText(fileText: Dataset[String]): DataFrame = {
    fileText.toDF("value")
      .select(explode(split(col("value"), "(?m)^WARC/1\\.[01]\r?\n"))
        .as("rec"))
      .filter(length(trim(col("rec"))) > 0)
      // header block = up to the first blank line; body = the rest.
      // Anchored non-greedy regexes (not split-with-limit) so the
      // DuckDB oracle can replay the exact same operation.
      .select(
        regexp_extract(col("rec"), "(?s)^(.*?)\r?\n\r?\n", 1)
          .as("header"),
        regexp_replace(col("rec"), "(?s)^.*?\r?\n\r?\n", "")
          .as("body"))
      .select(
        nullif(regexp_extract(col("header"),
          "(?m)^WARC-Record-ID:\\s*<([^>]*)>", 1), lit(""))
          .as("record_id"),
        nullif(regexp_extract(col("header"),
          "(?m)^WARC-Type:\\s*(\\S+)", 1), lit("")).as("warc_type"),
        nullif(regexp_extract(col("header"),
          "(?m)^WARC-Target-URI:\\s*(\\S+)", 1), lit("")).as("url"),
        to_timestamp(
          nullif(regexp_extract(col("header"),
            "(?m)^WARC-Date:\\s*(\\S+)", 1), lit("")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("warc_date"),
        nullif(regexp_extract(col("header"),
          "(?m)^Content-Type:\\s*(\\S+)", 1), lit(""))
          .as("content_type"),
        nullif(regexp_extract(col("header"),
          "(?m)^Content-Length:\\s*(\\d+)", 1), lit(""))
          .cast("long").as("content_length"),
        col("body"))
      .withColumn("is_valid",
        col("warc_type").isNotNull && col("content_length").isNotNull &&
          length(col("body").cast("binary")) >= col("content_length"))
      // octet-exact payload cut: substring over BINARY slices bytes;
      // the cast back to string re-decodes UTF-8
      .withColumn("payload",
        when(col("is_valid"),
          expr("cast(substring(cast(body as binary), 1, " +
            "cast(content_length as int)) as string)")))
      .drop("body")
      .select("record_id", "warc_type", "url", "warc_date",
        "content_type", "content_length", "payload", "is_valid")
  }

  /** PRODUCTION WARC/WET record framing — length-directed per ISO
    * 28500, the correctness fix over the regex twin above: a byte
    * cursor walks each whole-member text (the FASTQ mapPartitions
    * discipline), and after each header block consumes EXACTLY
    * `Content-Length` octets as payload before expecting the next
    * version line. A payload that itself contains a `WARC/1.0` line
    * is therefore consumed as payload, not split into a phantom
    * record — the silent-corruption edge the regex form has at crawl
    * scale (WarcSpec pins both behaviors on the same fixture).
    *
    * Semantics shared with the regex twin (so the DuckDB oracle
    * replay stays valid on spec-conforming members): same header
    * field regexes, same octet-exact UTF-8 payload cut, malformed
    * records (no WARC-Type / no Content-Length / declared length past
    * member end) KEPT with `is_valid = false` and NULL payload, resync
    * at the next version line. Bytes between records beyond the
    * two-CRLF separator are skipped (framing garbage is the enclosing
    * member's corruption signal — monitored via record counts — not a
    * reason to drop the records around it).
    *
    * `maxMemberBytes` is the loud-failure guard on the wholetext
    * member size (one ~150 MB Common Crawl member per task is the
    * design point; a multi-GB member means a mis-packed archive and
    * would otherwise surface as an executor OOM with no actionable
    * message). Configurable via `graft.warc.maxMemberBytes` through
    * `readWarc`. */
  def parseWarcRecords(fileText: Dataset[String],
      maxMemberBytes: Long = DefaultMaxWarcMemberBytes): DataFrame = {
    import org.apache.spark.sql.Row
    val raw = StructType(Seq(
      StructField("record_id", StringType),
      StructField("warc_type", StringType),
      StructField("url", StringType),
      StructField("warc_date_s", StringType),
      StructField("content_type", StringType),
      StructField("content_length", LongType),
      StructField("payload", StringType),
      StructField("is_valid", BooleanType)))
    val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(raw)
    fileText.toDF("value").mapPartitions { it =>
      it.flatMap { memberRow =>
        val member = memberRow.getString(0)
        val bytes =
          member.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        frameWarcMember(bytes, maxMemberBytes).map { r =>
          Row(r.recordId, r.warcType, r.url, r.dateS, r.contentType,
            r.contentLength,
            if (r.payload == null) null
            else new String(r.payload,
              java.nio.charset.StandardCharsets.UTF_8),
            r.isValid)
        }
      }
    }(enc)
      .withColumn("warc_date", to_timestamp(col("warc_date_s"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .select("record_id", "warc_type", "url", "warc_date",
        "content_type", "content_length", "payload", "is_valid")
  }

  /** One framed WARC record with the payload as its EXACT octet
    * slice of the member (null when invalid). */
  private[graft] final case class RawWarcRec(
      recordId: String, warcType: String, url: String, dateS: String,
      contentType: String, contentLength: java.lang.Long,
      payload: Array[Byte], isValid: Boolean)

  // header field patterns — shared with the regex twin / DuckDB oracle
  private object WarcPat {
    val id = java.util.regex.Pattern.compile(
      "(?m)^WARC-Record-ID:\\s*<([^>]*)>")
    val typ = java.util.regex.Pattern.compile(
      "(?m)^WARC-Type:\\s*(\\S+)")
    val uri = java.util.regex.Pattern.compile(
      "(?m)^WARC-Target-URI:\\s*(\\S+)")
    val date = java.util.regex.Pattern.compile(
      "(?m)^WARC-Date:\\s*(\\S+)")
    val ct = java.util.regex.Pattern.compile(
      "(?m)^Content-Type:\\s*(\\S+)")
    val len = java.util.regex.Pattern.compile(
      "(?m)^Content-Length:\\s*(\\d+)")
    def field(p: java.util.regex.Pattern, s: String): String = {
      val m = p.matcher(s)
      if (m.find() && m.group(1).nonEmpty) m.group(1) else null
    }
  }

  /** The length-directed byte cursor over ONE member's raw octets —
    * the shared core of the String (WET / UTF-8) and binary member
    * forms. Headers are decoded per line as UTF-8 (ISO 28500 §4:
    * header content is UTF-8; field names/values in practice ASCII);
    * the payload is returned as the EXACT octet slice, so a binary
    * caller loses nothing and the String caller decides the decode. */
  private[graft] def frameWarcMember(bytes: Array[Byte],
      maxMemberBytes: Long): Iterator[RawWarcRec] = {
    if (bytes.length > maxMemberBytes)
      throw new IllegalArgumentException(
        s"WARC member is ${bytes.length} bytes, over the " +
          s"$maxMemberBytes-byte guard (graft.warc.maxMemberBytes)" +
          " — a mis-packed archive member; Common Crawl members " +
          "are ~150 MB. Raise the bound only with executor " +
          "memory to match.")
    val n = bytes.length
    // line at byte p: (content without trailing CR/LF, next pos)
    def lineAt(p: Int): (String, Int) = {
      var e = p
      while (e < n && bytes(e) != '\n') e += 1
      val stop = if (e > p && bytes(e - 1) == '\r') e - 1 else e
      (new String(bytes, p, stop - p,
        java.nio.charset.StandardCharsets.UTF_8),
        if (e < n) e + 1 else n)
    }
    def isVersion(l: String) = l == "WARC/1.0" || l == "WARC/1.1"
    // next position whose line is a version line, at or after p
    def resync(p: Int): Int = {
      var q = p
      while (q < n) {
        val (l, nq) = lineAt(q)
        if (isVersion(l)) return q
        q = nq
      }
      n
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[RawWarcRec]
    var i = resync(0)
    while (i < n) {
      val (_, afterVersion) = lineAt(i) // the version line itself
      i = afterVersion
      val hb = new StringBuilder
      var sawBlank = false
      var stop = false
      while (!stop && i < n) {
        val (l, ni) = lineAt(i)
        if (l.isEmpty) { sawBlank = true; stop = true; i = ni }
        else if (isVersion(l)) {
          // header block ran into the next record (malformed: no
          // blank line / no body) — stop WITHOUT consuming; the
          // record is invalid below, matching the oracle twin
          // (whose header-block regex requires the blank line)
          stop = true
        } else { hb.append(l).append('\n'); i = ni }
      }
      val header = hb.toString
      val warcType = WarcPat.field(WarcPat.typ, header)
      val lenS = WarcPat.field(WarcPat.len, header)
      val cl: java.lang.Long =
        if (lenS == null) null else java.lang.Long.valueOf(lenS)
      val valid = sawBlank &&
        warcType != null && cl != null && i + cl.longValue <= n
      var payload: Array[Byte] = null
      if (valid) {
        payload = java.util.Arrays.copyOfRange(bytes, i, i + cl.intValue)
        i += cl.intValue
      }
      i = resync(i)
      out += RawWarcRec(WarcPat.field(WarcPat.id, header), warcType,
        WarcPat.field(WarcPat.uri, header),
        WarcPat.field(WarcPat.date, header),
        WarcPat.field(WarcPat.ct, header),
        if (cl == null) null else cl, payload, valid)
    }
    out.iterator
  }

  /** BYTE-FAITHFUL member framing: same cursor, payload kept as a
    * `binary` column — the production form for raw crawl archives
    * whose members are NOT UTF-8-clean (Latin-1/GBK pages, image
    * bytes inside `response` records). The String form above decodes
    * the member wholesale and re-encodes before framing, so any
    * invalid UTF-8 sequence is replaced (1 byte → 3) and the
    * Content-Length cut lands at the wrong octet (WarcSpec pins the
    * divergence); this form frames the original octets exactly and
    * defers payload decode to a per-record charset stage
    * (`graft.text.Html.decodeBytes`). */
  def parseWarcMembers(members: DataFrame, contentCol: String,
      maxMemberBytes: Long): DataFrame = {
    import org.apache.spark.sql.Row
    val raw = StructType(Seq(
      StructField("record_id", StringType),
      StructField("warc_type", StringType),
      StructField("url", StringType),
      StructField("warc_date_s", StringType),
      StructField("content_type", StringType),
      StructField("content_length", LongType),
      StructField("payload", BinaryType),
      StructField("is_valid", BooleanType)))
    val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(raw)
    members.select(col(contentCol)).mapPartitions { it =>
      it.flatMap { memberRow =>
        frameWarcMember(memberRow.getAs[Array[Byte]](0),
          maxMemberBytes).map { r =>
          Row(r.recordId, r.warcType, r.url, r.dateS, r.contentType,
            r.contentLength, r.payload, r.isValid)
        }
      }
    }(enc)
      .withColumn("warc_date", to_timestamp(col("warc_date_s"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .select("record_id", "warc_type", "url", "warc_date",
        "content_type", "content_length", "payload", "is_valid")
  }

  /** Stream-read one member's bytes with the size guard applied WHILE
    * reading (a mis-packed multi-GB member fails at the cap, never
    * after materializing). */
  private def readMemberBytes(in: java.io.InputStream, max: Long,
      name: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size > max)
        throw new IllegalArgumentException(
          s"WARC member $name exceeds the $max-byte guard " +
            "(graft.warc.maxMemberBytes) — a mis-packed archive " +
            "member; Common Crawl members are ~150 MB. Raise the " +
            "bound only with executor memory to match.")
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Read a WARC/WET member directory as RAW BYTES through the
    * byte-faithful parser — the production path for `response`
    * archives. `.gz` members decompress in-stream (gzip is
    * non-splittable, but a member is one task's unit anyway). One
    * ~150 MB member per task is the scan parallelism design point;
    * `binaryFiles` packs smaller members several-per-task. */
  def readWarcBinary(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.Row
    val max = spark.conf.getOption("graft.warc.maxMemberBytes")
      .map(_.toLong).getOrElse(DefaultMaxWarcMemberBytes)
    val rdd = spark.sparkContext.binaryFiles(path).map {
      case (name, pds) =>
        val base = pds.open()
        val in: java.io.InputStream =
          if (name.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(base)
          else base
        try Row(name, readMemberBytes(in, max, name))
        finally in.close()
    }
    val members = spark.createDataFrame(rdd, StructType(Seq(
      StructField("member_path", StringType),
      StructField("content", BinaryType))))
    parseWarcMembers(members, "content", max)
  }

  /** Default member-size guard: 1 GiB of UTF-8 bytes per wholetext
    * member — ~7× Common Crawl's member sizing, far below the 2 GiB
    * JVM array ceiling the unguarded read would hit as an opaque OOM. */
  val DefaultMaxWarcMemberBytes: Long = 1L << 30

  /** Read a WARC/WET member directory through the length-directed
    * production parser. `.warc.gz`/`.wet.gz` members decode
    * transparently (the text source's codec-by-extension — gzip is
    * non-splittable, but wholetext wants the whole member in one task
    * anyway, so nothing is lost). */
  def readWarc(spark: SparkSession, path: String): DataFrame =
    parseWarcRecords(
      spark.read.option("wholetext", "true").textFile(path),
      spark.conf.getOption("graft.warc.maxMemberBytes")
        .map(_.toLong).getOrElse(DefaultMaxWarcMemberBytes))

  // ---- S15: filesystem catalog as a table ----

  /** File listing → DataFrame (reference `Sys.glob + unglue_data +
    * file.info` `postgres.Rmd:240-243,2114-2126`): driver-side listing
    * (it is control metadata, bounded by file count), table name
    * recovered from the path by regex exactly like unglue, with the
    * `file.info` stat columns (size, mtime) the reference's
    * `benchmarks` table and staleness flows need.
    *
    * Listed through Hadoop FileSystem, not java.io.File — the same
    * rationale as `Incremental.pathExists`: works unchanged against
    * hdfs:// and s3a:// warehouses, where a local-File listing would
    * silently return an empty catalog. */
  def fileCatalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      if (fs.exists(path))
        fs.listStatus(path).toSeq.filter(_.isFile)
          .map(st =>
            (st.getPath.getName, st.getLen, st.getModificationTime))
          .sortBy(_._1)
      else Seq.empty[(String, Long, Long)]
    entries.toDF("file_name", "size_bytes", "mtime_ms")
      .select(
        col("file_name"),
        regexp_extract(col("file_name"), "^(.+)\\.parquet$", 1)
          .as("table_name"),
        col("file_name").endsWith(".parquet").as("is_parquet"),
        col("size_bytes"),
        timestamp_millis(col("mtime_ms")).as("mtime"))
  }
}
