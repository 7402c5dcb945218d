package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Sinks K1-K9 (SURVEY §2.2) — the reference's output surface.
  *
  * Scale notes: TSV/FASTA sinks take a `singleFile` flag because the
  * reference writes one file per table/sample (`write_tsv`); at cluster
  * scale you keep the default (one file per partition) and let the
  * consumer glob. Parquet appends are partitioned by the sample-like
  * key so per-key reads prune; "materialized view with unique index"
  * becomes materialize + a groupBy uniqueness assertion (Spark has no
  * secondary indexes to maintain — SURVEY §4 K6).
  */
object Writers {

  /** K1: TSV out (reference `write_tsv` everywhere). */
  def writeTsv(df: DataFrame, path: String,
      singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true").csv(path)
  }

  /** K2: append with first-load schema (reference
    * `dbWriteTable(append=TRUE)` idiom). */
  def appendTable(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** K3: overwrite dimension table. */
  def overwriteTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** K3b: overwrite a table that is DERIVED FROM ITS OWN previous
    * contents (the assignments regeneration cycle): stage to a sibling
    * directory, then swap via rename. Breaks the read-overwrite cycle
    * without collecting to the driver, and narrows the
    * no-table-on-disk window to the delete+rename (the reference's
    * NamedTemporaryFile + copy idiom, dispatch.py:196-210). */
  def overwriteStaged(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val retired = new org.apache.hadoop.fs.Path(path + ".retired")
    val fs = target.getFileSystem(hconf)
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // swap protocol: retire the live generation by RENAME (never
    // delete-then-rename — a crash between those two left NO state at
    // all, r13 ADVICE), promote staging, then drop the retired copy.
    // Any crash leaves either the old target or a recoverable
    // `.retired` next to it (`recoverStaged`).
    if (fs.exists(retired)) {
      // leftover from an earlier crashed swap: with a live target it
      // is already-replaced data (drop it); with NO live target it is
      // the ONLY copy — restore, then retire it through this swap
      if (fs.exists(target)) fs.delete(retired, true)
      else require(fs.rename(retired, target),
        s"staged overwrite: restore $retired -> $target failed")
    }
    if (fs.exists(target))
      require(fs.rename(target, retired),
        s"staged overwrite: retire $target -> $retired failed")
    require(fs.rename(staging, target),
      s"staged overwrite: rename $staging -> $target failed")
    if (fs.exists(retired)) fs.delete(retired, true)
  }

  /** Recover from a staged swap that crashed between its two renames:
    * a `path + ".retired"` directory with NO live `path` is the only
    * surviving generation — restore it. Idempotent; call before
    * reading any staged-overwrite-maintained state (`Cdc.upsertBatch`
    * does). Returns true iff a recovery happened. */
  def recoverStaged(spark: SparkSession, path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    val retired = new org.apache.hadoop.fs.Path(path + ".retired")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(retired)) {
      require(fs.rename(retired, target),
        s"staged recover: rename $retired -> $target failed")
      true
    } else false
  }

  /** K4: view (reference `CREATE VIEW bin_summary`). */
  def createView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** K5: materialized view + unique-index semantics (reference
    * `postgres.Rmd:1455-1547`): materialize to parquet, then assert key
    * uniqueness the way the unique index would have. Throws on
    * violation, returns the row count otherwise. */
  def materializeUnique(df: DataFrame, path: String,
      keyCols: Seq[String]): Long = {
    overwriteTable(df, path)
    val back = df.sparkSession.read.schema(df.schema).parquet(path)
    val dupes = back.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    require(dupes == 0,
      s"unique constraint on (${keyCols.mkString(",")}) violated: " +
        s"$dupes duplicate keys")
    back.count()
  }

  /** K7: FASTA out (reference `AnnotateContigs.pl:587-593`). Expects
    * (id, seq) columns. */
  def writeFasta(df: DataFrame, path: String,
      singleFile: Boolean = false): Unit = {
    val rec = df.select(
      concat(lit(">"), col("id"), lit("\n"), col("seq")).as("value"))
    val out = if (singleFile) rec.coalesce(1) else rec
    out.write.mode(SaveMode.Overwrite).text(path)
  }

  /** K8: JSON out. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K9 + P4: per-group split into many outputs (reference per-sample
    * TPM exports `write_TPM_files.R:39-51`) — partitioned write, one
    * directory per key value. */
  def writePartitioned(df: DataFrame, path: String,
      keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(keys: _*).parquet(path)

  /** Partition-scoped refresh: overwrite ONLY the partitions present
    * in `delta`, leaving every other partition's files untouched —
    * the incremental-maintenance form of `writePartitioned`. At
    * warehouse scale a derived table is refreshed for the handful of
    * samples that changed; rewriting the whole artifact (static
    * overwrite) would re-shuffle 100 TB to land one sample. Dynamic
    * partition-overwrite is scoped to this one write via the
    * DataFrameWriter option, not a session-level conf flip. */
  def refreshPartitions(delta: DataFrame, path: String,
      keys: Seq[String]): Unit =
    delta.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(keys: _*)
      .parquet(path)

  /** Small-file compaction plan over a file catalog (`Readers.
    * fileCatalog` shape: file_name, size_bytes, is_parquet): assign
    * every parquet file to a rewrite bin of ≈`targetBytes` by
    * cumulative size in (size desc, name) order — big files claim a
    * bin (or several indices) alone, small files pack together; the
    * compactor then rewrites each bin as one file. The K9-family
    * maintenance op: a partitioned warehouse accretes one small file
    * per incremental refresh until scans drown in per-file overhead.
    *
    * Planned on the driver: the catalog is control metadata that
    * `fileCatalog` has already listed into a local relation, so the
    * collect starts no job, and the running sum is a `Long` fold over
    * the sorted list. Names order as Spark orders strings (UTF-8
    * bytes). `size_bytes` must be non-null. Returns one row per bin
    * (bin, n_files, total_bytes, first_file) as a local frame. */
  def compactionPlan(catalog: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0: $targetBytes")
    val spark = catalog.sparkSession
    import spark.implicits._
    val files = catalog.filter(col("is_parquet"))
      .select("file_name", "size_bytes").as[(String, Long)].collect()
      .map { case (n, size) => (UTF8String.fromString(n), size) }
      .sortBy { case (n, size) => (-size, n) }
    var running = 0L
    // bin index from the size BEFORE this file: files sharing a bin
    // started inside the same target window
    val binned = files.map { case (n, size) =>
      val bin = Math.floorDiv(running, targetBytes)
      running += size
      (bin, n, size)
    }
    binned.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, fs) =>
      (bin, fs.length.toLong, fs.map(_._3).sum, fs.map(_._2).min.toString)
    }.toDF("bin", "n_files", "total_bytes", "first_file")
  }
}
