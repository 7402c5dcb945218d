package perfbench

/** The pure rules the harness applies to its records. `SelfTest` pins
  * each of them. */
object Rules {

  /** Gate family (the key's leading letters) → engine module, after the
    * README prefix table. One row per family, never per gate: a new gate
    * lands in its family's module without an edit here. */
  val familyModule: Map[String, String] = Map(
    "a" -> "ops.Relational", "j" -> "ops.Relational",
    "f" -> "ops.Relational", "w" -> "ops.Windows", "p" -> "ops.Pivots",
    "g" -> "ops.Glamr", "q" -> "ops.Expectations", "cdc" -> "ops.Cdc",
    "wg" -> "ops.WebGraph", "eco" -> "ops.Ecology", "k" -> "warehouse",
    "s" -> "io", "t" -> "tax", "d" -> "dedup", "x" -> "sim",
    "tx" -> "text", "st" -> "streaming", "m" -> "multimodal")

  /** Unnumbered join keys whose second word names a temporal join
    * (`j_asof_click`, `j_range_bucket`, ...) belong to
    * `ops.TemporalJoins`; numbered ones (`j2_star_join`) and the other
    * unnumbered ones stay relational. */
  val temporalJoinWords: Set[String] =
    Set("asof", "range", "interval", "resample")

  /** "a17_exact_percentiles" → "a", "tx_bm25" → "tx",
    * "s15d_catalog_dump" → "s". */
  def family(key: String): String = key.takeWhile(_.isLetter)

  def moduleOfGate(key: String): Option[String] = {
    val words = key.split('_')
    if (words(0) == "j" && words.length > 1 && temporalJoinWords(words(1)))
      Some("ops.TemporalJoins")
    else familyModule.get(family(key))
  }

  /** Engine packages reported per object (`io.Writers`,
    * `ingest.Incremental`); every other engine package is one module
    * (`dedup`, `text`, `sim`). */
  val objectGrained: Set[String] =
    Set("cli", "io", "ingest", "ops", "warehouse")

  /** "graft.ingest.Incremental$" → "ingest.Incremental",
    * "graft.dedup.Dedup$$anonfun$1" → "dedup"; None outside the engine. */
  def moduleOfClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else {
      val parts = cls.stripPrefix("graft.").takeWhile(_ != '$').split('.')
      if (parts.length == 1) Some(parts(0))
      else if (objectGrained(parts(0))) Some(parts(0) + "." + parts(1))
      else Some(parts(0))
    }

  /** A job's module: the innermost engine frame of its long call site
    * (Spark lists frames innermost first). Jobs no engine frame
    * launched are "other". */
  def moduleOfCallSite(longForm: String): String =
    Option(longForm).iterator.flatMap(_.linesIterator)
      .flatMap(frameClass).flatMap(moduleOfClass)
      .nextOption().getOrElse("other")

  /** "graft.io.Writers$.appendTable(Writers.scala:33)" →
    * "graft.io.Writers$". */
  private def frameClass(frame: String): Option[String] = {
    val f = frame.trim
    val paren = f.indexOf('(')
    val method = if (paren > 0) f.substring(0, paren) else f
    val dot = method.lastIndexOf('.')
    if (dot > 0) Some(method.substring(0, dot)) else None
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean: every gate weighs the same whatever its size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile index (0-based) of `p` in n sorted samples. */
  def rankIndex(p: Int, n: Int): Int =
    math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  /** The tail latency: the highest percentile, up to p90, that still
    * has at least `beyond` samples above it, i.e. the (beyond+1)-th
    * largest sample, or the nearest-rank p90 when that is lower; the
    * median when there are too few samples. Returns the percentile used
    * (rounded) and its value. */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val n = s.size
    val i = math.min(rankIndex(90, n), n - 1 - beyond)
    if (i < n / 2) (50, median(s))
    else (math.round(100.0 * (i + 1) / n).toInt, s(i))
  }
}
