package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate

/** HTML → text extraction over WARC `response` records — the
  * boilerplate-strip operator between "reads Common Crawl" and
  * "curates Common Crawl" (the trafilatura/jusText role, re-expressed
  * as a declarative column pipeline so Catalyst keeps it inside
  * whole-stage codegen and the DuckDB oracle can replay every step).
  *
  * Reference analog: the reference pipeline consumes pre-extracted
  * text the way the WET path does (`pypelib` loaders parse tool
  * outputs, not raw instrument bytes); this module is the engine's own
  * extraction so the corpus can start at raw `response` records.
  *
  * Pipeline, per document:
  *  1. cut the HTTP header block (headers end at the first blank line),
  *  2. drop non-content markup wholesale: `<script>…</script>`,
  *     `<style>…</style>`, `<!-- comments -->`,
  *  3. reconstruct BLOCK structure: every block-level tag boundary
  *     (p/div/li/h1-6/tr/nav/… open or close) becomes a newline, then
  *     split → one row per block,
  *  4. per block: strip remaining inline tags, decode the common HTML
  *     entities, collapse whitespace,
  *  5. LINK-DENSITY pruning: a block whose anchor text is more than
  *     half its text is chrome (nav bars, footers, related-links
  *     boxes), not content — computed INTEGER-only (anchor chars vs
  *     total chars) so the oracle compare is exact,
  *  6. re-join surviving blocks with newlines into the document text.
  *
  * Every regex is shared between the Spark plan and the DuckDB oracle
  * (both RE2-compatible: no backrefs, no lookaround), so the
  * `s_warc_html_*` gates verify the extraction bit-for-bit.
  *
  * 100 TB posture: pure per-row column expressions — no UDF, no
  * shuffle until the final per-doc reassembly (one partial_agg'd
  * groupBy on the record id), and the block fan-out is an explode the
  * optimizer prunes when a consumer only reads block stats.
  */
object Html {

  // ---- shared regex constants (Java regex ∩ RE2 semantics) ----

  /** HTTP response header block: status line + headers up to the
    * first blank line (same shape as the WARC header framing). */
  val HttpHeadPat = "(?s)^(.*?)\r?\n\r?\n"

  /** Leading 1xx INTERIM response blocks (100-Continue, 103 Early
    * Hints): status line + optional headers + blank line, repeated —
    * stripped before the real header block is read, so a
    * 100-Continue capture does not dodge the Content-Type dispatch
    * (r16 verdict "What's wrong #4"). Only 1xx status lines match;
    * the final 2xx/3xx/... block is never consumed. */
  val InterimPat = "^(?:HTTP/\\d\\.\\d 1\\d\\d[^\r\n]*\r?\n" +
    "(?:[^\r\n]+\r?\n)*\r?\n)+"

  /** RFC 7230 obs-fold: a header line continued on the next line by
    * leading whitespace — unfolded to one space before field
    * extraction, so `Content-Type:\r\n  text/html` still dispatches. */
  val UnfoldPat = "\r?\n[ \t]+"

  val ScriptPat = "(?is)<script\\b[^>]*>.*?</script\\s*>"
  val StylePat = "(?is)<style\\b[^>]*>.*?</style\\s*>"
  val CommentPat = "(?s)<!--.*?-->"

  /** Block-level tag boundary (open or close) → one block break. */
  val BlockTagPat = "(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|" +
    "table|thead|tbody|section|article|header|footer|nav|blockquote|" +
    "pre|hr|dl|dt|dd|form|figure|figcaption|aside|main|title)" +
    "\\b[^>]*>"

  /** A complete inline anchor (its text is the "link text" the
    * density prune measures). */
  val AnchorPat = "(?is)<a\\b[^>]*>.*?</a\\s*>"

  /** Any remaining tag. */
  val TagPat = "(?s)<[^>]*>"

  /** NAMED entity decode set: the half-dozen entities that dominate
    * real pages, decoded in an order where no replacement re-creates
    * a later pattern's input (`&amp;` strictly last). U+00A0 itself
    * normalizes to a plain space so `&nbsp;`, `&#160;` and a raw
    * Latin-1 0xA0 byte all land on the same text (the `\s+` collapse
    * is ASCII-only in both engines). Unknown NAMED entities pass
    * through as literal text — documented, deterministic; numeric
    * references decode separately (below). */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
    "\u00A0" -> " ", "&amp;" -> "&")

  /** Numeric character references: `&#231;` (decimal) and `&#xE7;`
    * (hex), BMP-bounded. Decoded by a replayable split + transform:
    * each reference is rewritten to `M1<base><digits>M2`,
    * the string split on U+0001, and each marked fragment mapped
    * through a codepoint→char step both engines support (Spark:
    * `unhex` + UTF-16BE decode; DuckDB: `chr`). Control (<32),
    * surrogate, and above-BMP codepoints keep their literal entity
    * text. Any pre-existing U+0001/U+0002 (not text in any real
    * page) is stripped first so markers are unambiguous. Nesting
    * like `&#38;lt;` double-decodes (numeric runs before named) — a
    * documented bound shared with the oracle replay. */
  val DecEntityPat = "&#([0-9]{1,7});"
  val HexEntityPat = "&#[xX]([0-9a-fA-F]{1,6});"

  /** Marker pair for the numeric-reference rewrite (control chars
    * U+0001/U+0002 — not text in any real page; pre-stripped for
    * determinism). */
  private[text] val M1 = "\u0001"
  private[text] val M2 = "\u0002"

  def decodeNumericEntities(c: Column): Column = {
    val cleaned = regexp_replace(c, "[" + M1 + M2 + "]", "")
    val marked = regexp_replace(
      regexp_replace(cleaned, DecEntityPat, M1 + "d$1" + M2),
      HexEntityPat, M1 + "x$1" + M2)
    val parts = split(marked, M1, -1)
    val decoded = transform(parts, p => {
      val code = substring_index(p, M2, 1)
      val rest = p.substr(length(code) + lit(2), length(p))
      val isHex = code.startsWith("x")
      val digits = code.substr(lit(2), length(code))
      val n = when(isHex, conv(digits, 16, 10).cast("long"))
        .otherwise(digits.cast("long"))
      val ch = decode(unhex(lpad(hex(n), 4, "0")), "UTF-16BE")
      val ok = n >= 32 && n <= 65535 && !(n >= 55296 && n <= 57343)
      val entityBack = concat(lit("&#"),
        when(isHex, concat(lit("x"), digits)).otherwise(digits),
        lit(";"))
      when(!p.contains(M2), p)
        .otherwise(concat(when(ok, ch).otherwise(entityBack), rest))
    })
    array_join(decoded, "")
  }

  /** Link-density prune: drop a block when anchor text exceeds this
    * numerator/denominator share of its text (integer arithmetic —
    * 1/2 = "more chrome than content"). */
  val MaxAnchorNum = 1
  val MaxAnchorDen = 2

  // ---- column stages ----

  /** The HTTP payload body: everything after the header block
    * (leading 1xx interim blocks skipped first). A payload that does
    * not start `HTTP/` (not an HTTP message) passes through
    * unchanged. */
  def httpBody(payload: Column): Column = {
    val p = regexp_replace(payload, InterimPat, "")
    when(p.startsWith("HTTP/"), regexp_replace(p, HttpHeadPat, ""))
      .otherwise(p)
  }

  /** The HTTP header block's Content-Type value ('' when absent) —
    * extraction dispatches on it (text/html vs everything else).
    * Interim 1xx blocks are skipped and folded header lines unfolded
    * before the field is read. */
  def httpContentType(payload: Column): Column =
    regexp_extract(
      regexp_replace(
        regexp_extract(regexp_replace(payload, InterimPat, ""),
          HttpHeadPat, 1),
        UnfoldPat, " "),
      "(?im)^Content-Type:\\s*([^\r\n]+)", 1)

  // ---- charset-aware payload decode (binary WARC members) ----

  /** The charset parameter of a Content-Type value, lower-cased (''
    * when absent). */
  def charsetOf(contentType: Column): Column =
    lower(regexp_extract(contentType,
      "(?i)charset\\s*=\\s*\"?([A-Za-z0-9_.:\\-]+)", 1))

  /** Windows-1252's C1 range (0x80–0x9F): ISO-8859-1 decodes those
    * octets to C1 control codepoints; this table re-maps the 27
    * assigned ones (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ “ ” • – — ˜ ™ š ›
    * œ ž Ÿ — the curly-quote/dash range that dominates real pages);
    * the 5 unassigned octets stay as themselves, matching lenient
    * decoders. */
  private[text] val Win1252From: String =
    (0x80 to 0x9F).map(_.toChar).mkString
  private[text] val Win1252To: String =
    "\u20AC\u0081\u201A\u0192\u201E\u2026\u2020\u2021" +
    "\u02C6\u2030\u0160\u2039\u0152\u008D\u017D\u008F" +
    "\u0090\u2018\u2019\u201C\u201D\u2022\u2013\u2014" +
    "\u02DC\u2122\u0161\u203A\u0153\u009D\u017E\u0178"

  /** Decode payload octets by DECLARED charset, with a UTF-8
    * validity sniff as the fallback — pure column expressions:
    *  - Latin-1 family → `decode(…, ISO-8859-1)` (exact);
    *  - Windows-1252 → ISO-8859-1 + a C1 `translate` (exact for all
    *    assigned codepoints);
    *  - everything else (incl. declared/implied UTF-8): valid UTF-8
    *    → lenient UTF-8 (`make_valid_utf8`), else the Windows-1252
    *    path (the standard mis-declared-charset sniff). Multi-byte
    *    CJK charsets (Shift-JIS, GBK) fall to the sniff — a
    *    documented bound; extending it means a charset `Expression`,
    *    not a UDF. */
  def decodeBytes(payload: Column, charset: Column): Column = {
    val latin1 = decode(payload, "ISO-8859-1")
    val win1252 = translate(latin1, Win1252From, Win1252To)
    when(charset.isin("iso-8859-1", "iso8859-1", "latin-1", "latin1",
      "us-ascii", "ascii"), latin1)
      .when(charset.isin("windows-1252", "cp1252", "cp-1252",
        "win-1252"), win1252)
      .otherwise(when(call_function("is_valid_utf8", payload),
        call_function("make_valid_utf8", payload))
        .otherwise(win1252))
  }

  /** ISO-8859-1 is a byte↔char bijection, so decoding a binary HTTP
    * payload with it yields a LOSSLESS character carrier: the ASCII
    * header regexes work on it directly, and the exact body octets
    * re-encode out of it. */
  def httpCarrier(payload: Column): Column =
    decode(payload, "ISO-8859-1")

  /** The exact body OCTETS of a binary HTTP payload (via the
    * carrier) — feeds binary consumers (image decode) bit-exact. */
  def httpBodyBytes(carrier: Column): Column =
    encode(httpBody(carrier), "ISO-8859-1")

  /** Binary HTTP payload → charset-decoded body TEXT: carrier →
    * header charset → exact body octets → `decodeBytes`. The front
    * door for `Html.extractText` over byte-faithful WARC members. */
  def httpBodyText(payload: Column): Column = {
    val carrier = httpCarrier(payload)
    decodeBytes(httpBodyBytes(carrier),
      charsetOf(httpContentType(carrier)))
  }

  /** Strip tags + decode entities (numeric then named) + collapse
    * whitespace — the block-text normalizer (stage 4). */
  def cleanText(html: Column): Column = {
    val stripped = regexp_replace(html, TagPat, " ")
    val decoded = Entities.foldLeft(decodeNumericEntities(stripped)) {
      case (c, (e, r)) =>
        regexp_replace(c, e, r) // entity names are regex-literal-safe
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Non-content markup dropped wholesale (stage 2). */
  def dropNonContent(html: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(html, ScriptPat, " "),
        StylePat, " "),
      CommentPat, " ")

  // ---- operators ----

  /** Exploded content blocks of an HTML column: one row per block
    * with its index, cleaned text, and the integer link-density
    * inputs; chrome blocks (empty, or anchor-majority) already
    * pruned. `keyCols` travel through the explode. */
  def extractBlocks(df: DataFrame, htmlCol: String,
      keyCols: Seq[String]): DataFrame = {
    val ks = keyCols.map(col)
    df
      .withColumn("__clean_html", dropNonContent(col(htmlCol)))
      .select(ks :+
        posexplode(split(
          regexp_replace(col("__clean_html"), BlockTagPat, "\n"),
          "\n")).as(Seq("block_idx", "__raw_block")): _*)
      .withColumn("text", cleanText(col("__raw_block")))
      .withColumn("n_chars", length(col("text")).cast("int"))
      // anchor share, integer-only: chars contributed by <a> runs =
      // clean(block) minus clean(block with anchors removed)
      .withColumn("anchor_chars",
        (col("n_chars") - length(cleanText(
          regexp_replace(col("__raw_block"), AnchorPat, " "))))
          .cast("int"))
      .filter(col("n_chars") > 0 &&
        col("anchor_chars") * MaxAnchorDen <=
          col("n_chars") * MaxAnchorNum)
      .drop("__raw_block", "__clean_html")
  }

  /** Document text: surviving blocks re-joined with newlines in block
    * order (sort inside the aggregated array — no window, one
    * partial-aggregated shuffle by the record key). */
  def extractText(df: DataFrame, htmlCol: String,
      keyCols: Seq[String]): DataFrame =
    extractBlocks(df, htmlCol, keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              struct(col("block_idx"), col("text")))),
            b => b.getField("text")),
          "\n").as("text"),
        count(lit(1)).cast("long").as("n_blocks"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  // ---- gate queries ----

  private def parsedHtmlResponses(s: SparkSession): DataFrame =
    graft.io.Readers
      .parseWarcRecords(htmlFixture(s))
      .filter(col("warc_type") === "response" && col("is_valid") &&
        col("content_type").startsWith("application/http"))
      .withColumn("http_ct", httpContentType(col("payload")))
      .filter(col("http_ct").contains("text/html"))
      .withColumn("html", httpBody(col("payload")))

  private def htmlFixture(s: SparkSession)
      : org.apache.spark.sql.Dataset[String] = {
    import s.implicits._
    s.createDataset(Seq(graft.io.Fixtures.warcHtml))
  }

  /** s_warc_html_extract: per-block extraction rows off raw WARC
    * response bytes — framing, HTTP dispatch, boilerplate strip,
    * entity decode, and the link-density prune all under one
    * full-oracle hash. */
  private def sWarcHtmlExtract(s: SparkSession, d: String): DataFrame =
    extractBlocks(parsedHtmlResponses(s), "html",
      Seq("record_id", "url"))
      .select("record_id", "url", "block_idx", "text", "n_chars",
        "anchor_chars")

  /** s_warc_html_doc: the reassembled per-document text (what the
    * curation chain consumes). */
  private def sWarcHtmlDoc(s: SparkSession, d: String): DataFrame =
    extractText(parsedHtmlResponses(s), "html",
      Seq("record_id", "url"))
      .select("record_id", "url", "text", "n_blocks", "n_chars")

  /** s_warc_html_curate: the s_warc_wet_curate analog off raw HTML
    * bytes — extraction → host recovery → exact-dedup by text
    * fingerprint (canonical min record_id). The fixture plants a
    * MIRROR page (same content, different nav/footer/style): raw
    * bytes differ, so only the engine's own extraction can make the
    * dup exact — the fingerprint join collapses it, proving the
    * "extraction unlocks dedup" chain under one oracle hash. */
  private def sWarcHtmlCurate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = extractText(parsedHtmlResponses(s), "html",
      Seq("record_id", "url"))
      .withColumn("host",
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))
      .withColumn("fp", md5(col("text")))
    val wFp = Window.partitionBy("fp")
    docs.withColumn("keep_id", min("record_id").over(wFp))
      .filter(col("record_id") === col("keep_id"))
      .select(col("record_id"), col("host"), col("n_blocks"),
        col("n_chars"), col("fp"))
  }

  /** s_warc_html_quality: the tx_quality stage fed by the engine's
    * OWN extraction — raw response bytes → framed → extracted →
    * token/stopword/quality stats, the dispatch decision a curation
    * pipeline makes right after extraction, under one oracle hash
    * (the tx_quality formula replayed over the blocksCte docs). */
  private def sWarcHtmlQuality(s: SparkSession, d: String): DataFrame = {
    val docs = extractText(parsedHtmlResponses(s), "html",
      Seq("record_id", "url"))
    val tok = TextOps.tokens(col("text"))
    val nTok = size(tok).cast("double")
    val stopHits = size(filter(tok,
      tk => tk.isin(TextOps.qualityStopwords.map(x => x: Any): _*)))
    docs.select(
      col("record_id"),
      size(tok).as("n_tokens"),
      round(stopHits / nTok, 4).as("stop_ratio"),
      round(least(lit(1.0), nTok / 100.0) *
        (lit(1.0) - stopHits / nTok), 4).as("quality"))
  }

  // ---- DuckDB oracles: the same regex chain, replayed ----

  /** SQL single-quoted literal. */
  private def sq(s: String): String =
    "'" + s.replace("'", "''") + "'"

  /** The NAMED-entity-decode chain as nested DuckDB replace() calls. */
  private def sqlDecode(expr: String): String =
    Entities.foldLeft(expr) { case (e, (ent, rep)) =>
      s"replace($e, ${sq(ent)}, ${sq(rep)})"
    }

  /** The numeric-reference decode replayed in DuckDB: same marker
    * rewrite, `string_split` + `list_transform`, DuckDB's native
    * `chr()` as the codepoint→char step and a hex-literal cast for
    * the hex form. */
  private def sqlDecodeNumeric(expr: String): String = {
    // the U+0001/U+0002 markers are built with chr() instead of being
    // embedded as raw literals: the SQL text stays printable (the
    // SparkEntrySpec control-char guard — Verify's JSON escaper covers
    // raw controls, but keeping the oracle text clean is the
    // contract), while the runtime strings are identical
    val m1 = "chr(1)"
    val m2 = "chr(2)"
    val marked =
      s"""regexp_replace(regexp_replace(regexp_replace($expr,
         ('[' || $m1 || $m2 || ']'), '', 'g'),
         ${sq(DecEntityPat)}, ($m1 || ${sq("d\\1")} || $m2), 'g'),
         ${sq(HexEntityPat)}, ($m1 || ${sq("x\\1")} || $m2), 'g')"""
    val code = s"split_part(p, $m2, 1)"
    val digits = s"substr($code, 2)"
    val n = s"""(CASE WHEN starts_with($code, 'x')
       THEN CAST('0x' || $digits AS BIGINT)
       ELSE CAST($digits AS BIGINT) END)"""
    s"""array_to_string(list_transform(
       string_split($marked, $m1),
       p -> CASE WHEN strpos(p, $m2) = 0 THEN p
         ELSE (CASE WHEN $n BETWEEN 32 AND 65535
                AND NOT ($n BETWEEN 55296 AND 57343)
              THEN chr(CAST($n AS INT))
              ELSE '&#' || (CASE WHEN starts_with($code, 'x')
                THEN 'x' || $digits ELSE $digits END) || ';' END)
           || substr(p, length($code) + 2)
         END), '')"""
  }

  private def sqlClean(expr: String): String = {
    val stripped = s"regexp_replace($expr, ${sq(TagPat)}, ' ', 'g')"
    s"trim(regexp_replace(${sqlDecode(sqlDecodeNumeric(stripped))}," +
      " '\\s+', ' ', 'g'))"
  }

  /** HTTP dispatch off the framed records: interim-1xx strip, header
    * cut, obs-fold unfold, Content-Type gate — ends in CTE
    * `body(record_id, url, html)`. Expects a prior CTE `w` with the
    * framed records. */
  private def httpDispatchCtes: String =
    s"""resp AS (
       SELECT record_id, url,
         regexp_replace(payload, ${sq(InterimPat)}, '') AS payload
       FROM w
       WHERE warc_type = 'response' AND is_valid
         AND content_type LIKE 'application/http%'),
     disp AS (
       SELECT record_id, url, payload,
         regexp_extract(regexp_replace(
             regexp_extract(payload, ${sq(HttpHeadPat)}, 1),
             ${sq(UnfoldPat)}, ' ', 'g'),
           '(?im)^Content-Type:\\s*([^\r\n]+)', 1) AS http_ct
       FROM resp),
     body AS (
       SELECT record_id, url,
         CASE WHEN payload LIKE 'HTTP/%'
           THEN regexp_replace(payload, ${sq(HttpHeadPat)}, '')
           ELSE payload END AS html
       FROM disp WHERE http_ct LIKE '%text/html%')"""

  /** The extraction chain — boilerplate strip, block explode, clean,
    * link-density prune — over a prior CTE `body(record_id, url,
    * html)`, ending in CTE `blocks`. Shared by the text-member gates
    * here and the byte-faithful member gates in SourceQueries. */
  private[graft] def extractionCtesFromBody: String =
    s"""nc AS (
       SELECT record_id, url,
         regexp_replace(regexp_replace(regexp_replace(html,
           ${sq(ScriptPat)}, ' ', 'g'),
           ${sq(StylePat)}, ' ', 'g'),
           ${sq(CommentPat)}, ' ', 'g') AS ch
       FROM body),
     bl AS (
       SELECT record_id, url,
         string_split(regexp_replace(ch, ${sq(BlockTagPat)},
           chr(10), 'g'), chr(10)) AS bs
       FROM nc),
     eb AS (
       SELECT record_id, url, CAST(i - 1 AS INT) AS block_idx,
         bs[i] AS raw_block
       FROM bl, unnest(generate_series(1, len(bs))) AS u(i)),
     ct AS (
       SELECT record_id, url, block_idx,
         ${sqlClean("raw_block")} AS text,
         ${sqlClean(s"regexp_replace(raw_block, ${sq(AnchorPat)}," +
      " ' ', 'g')")} AS text_noanchor
       FROM eb),
     blocks AS (
       SELECT record_id, url, block_idx, text,
         CAST(length(text) AS INT) AS n_chars,
         CAST(length(text) - length(text_noanchor) AS INT)
           AS anchor_chars
       FROM ct
       WHERE length(text) > 0
         AND (length(text) - length(text_noanchor)) * $MaxAnchorDen
           <= length(text) * $MaxAnchorNum)"""

  /** Framing CTE (the regex twin) + HTTP dispatch + extraction over
    * the embedded text fixture, ending in CTE `blocks`. */
  private def blocksCte: String = {
    val framing = graft.io.SourceQueries.warcCteFor(
      Seq(graft.io.Fixtures.warcHtml))
    s"$framing,\n     $httpDispatchCtes,\n     $extractionCtesFromBody"
  }

  val gates: Seq[Gate] = Seq(
    Gate("s_warc_html_extract", sWarcHtmlExtract _, Some(
      s"""WITH $blocksCte
       SELECT record_id, url, block_idx, text, n_chars, anchor_chars
       FROM blocks""")),
    Gate("s_warc_html_doc", sWarcHtmlDoc _, Some(
      s"""WITH $blocksCte
       SELECT record_id, url,
         string_agg(text, chr(10) ORDER BY block_idx) AS text,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(length(string_agg(text, chr(10) ORDER BY block_idx))
           AS BIGINT) AS n_chars
       FROM blocks GROUP BY record_id, url""")),
    Gate("s_warc_html_curate", sWarcHtmlCurate _, Some(
      s"""WITH $blocksCte,
       docs AS (
         SELECT record_id, url,
           string_agg(text, chr(10) ORDER BY block_idx) AS text,
           CAST(count(*) AS BIGINT) AS n_blocks
         FROM blocks GROUP BY record_id, url),
       hh AS (
         SELECT record_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           text, n_blocks, md5(text) AS fp
         FROM docs),
       k AS (SELECT *, min(record_id) OVER (PARTITION BY fp)
               AS keep_id FROM hh)
       SELECT record_id, host, n_blocks,
         CAST(length(text) AS BIGINT) AS n_chars, fp
       FROM k WHERE record_id = keep_id""")),
    Gate("s_warc_html_quality", sWarcHtmlQuality _, Some(
      s"""WITH $blocksCte,
       docs AS (
         SELECT record_id,
           string_agg(text, chr(10) ORDER BY block_idx) AS text
         FROM blocks GROUP BY record_id, url),
       toks AS (
         SELECT record_id,
           string_split_regex(trim(text), '\\s+') AS tok
         FROM docs)
       SELECT record_id,
         CAST(len(tok) AS INT) AS n_tokens,
         round(len(list_filter(tok, x -> x IN
           ('the','a','of','and','in','to','is'))) * 1.0 / len(tok), 4)
           AS stop_ratio,
         round(least(1.0, len(tok) / 100.0) *
           (1.0 - len(list_filter(tok, x -> x IN
             ('the','a','of','and','in','to','is'))) * 1.0 / len(tok)),
           4) AS quality
       FROM toks""")))
}
