package graft.warehouse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Warehouse layout (SURVEY §1.2, §7.4 risk 7 — the 100 TB posture).
  *
  * The reference's Postgres warehouse relies on secondary indexes and
  * drop-index/bulk-load tricks; the Spark-native equivalents are
  * layout decisions made once at write time:
  *
  *  - **Partition by the sample-like key** → per-key reads prune to
  *    single directories (replaces the manual glob narrowing).
  *  - **Bucket + sort by the join key** → fact-fact joins co-locate:
  *    both sides hash to the same bucket files and the sort-merge join
  *    runs with NO Exchange (asserted in WarehouseSpec). At 100 TB the
  *    lineitem⨝orders class of join is the dominant shuffle; bucketing
  *    amortizes it into the initial load.
  *
  * Bucketed tables require the session catalog (`saveAsTable`).
  */
object Warehouse {

  /** Register a parquet table bucketed+sorted by its join key. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Load the two big facts as co-bucketed tables. */
  def buildFactTables(spark: SparkSession, sfDir: String,
      numBuckets: Int = 8): Unit = {
    writeBucketed(graft.io.Inputs.t(spark, sfDir, "lineitem"),
      "w_lineitem", "l_orderkey", numBuckets)
    writeBucketed(graft.io.Inputs.t(spark, sfDir, "orders"),
      "w_orders", "o_orderkey", numBuckets)
  }

  /** The co-located fact join: with both sides bucketed on the key,
    * this plans as SortMergeJoin over FileScans with zero Exchange. */
  def bucketedFactJoin(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.table("w_lineitem")
      .join(spark.table("w_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        2).as("revenue"))
  }

  /** Small-file compaction for a FLAT parquet directory — the
    * maintenance op the reference's per-sample layout makes mandatory
    * at scale: incremental per-sample appends leave thousands of
    * KB-sized files, and at 100 TB the footer/open overhead of small
    * files dominates scan time long before data volume does. Rewrites
    * the directory to ⌈bytes / targetBytes⌉ files via the
    * staged-overwrite path (the output is derived from its own previous
    * contents, so the read-overwrite cycle must be broken the same way
    * K3b does). Returns the file count after compaction.
    *
    * Refuses Hive-style partitioned layouts: a flat rewrite would
    * flatten the `key=value` directories, losing both per-key pruning
    * and the partition column's type; use [[compactPartitions]]. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = fs.listStatus(hPath).filter(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    require(partDirs.isEmpty,
      s"$path is a partitioned layout (${partDirs.head.getPath.getName}" +
        ", ...); flat compaction would flatten it — use " +
        "compactPartitions with the partition columns")
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    graft.io.Writers.overwriteStaged(df.repartition(nFiles), path)
    fs.listStatus(hPath)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Partition-preserving small-file compaction: rewrites ONLY the
    * leaf partition directories that hold more files than their bytes
    * justify, leaving every other partition's files byte-stable. This
    * is the form the incremental warehouse actually needs — each
    * nightly cycle appends a handful of fresh `sample=…` partitions,
    * and compacting the whole table (O(table) I/O per run) would
    * contradict the incremental design.
    *
    *  - `onlyPartitions`: restrict the candidate set to these partition
    *    values (e.g. the samples touched this cycle) — a control-plane
    *    sized DataFrame with the partition columns. None = scan the
    *    whole listing for small-file dirs.
    *  - A dir is rewritten when fileCount > max(1, ⌈bytes/target⌉),
    *    i.e. only when compaction would actually reduce files.
    *
    * Each selected leaf is rewritten to its own byte-justified file
    * count, staged OUTSIDE the table root (a transient dir inside it
    * would break concurrent partition inference), then swapped in by
    * renaming the old leaf aside before renaming the staged dir in —
    * a full copy of every partition exists at every instant, and a
    * leftover staging dir from an interrupted run is refused, not
    * clobbered. Untouched partitions never move. Returns the number
    * of leaf directories rewritten. */
  def compactPartitions(spark: SparkSession, path: String,
      partitionCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      onlyPartitions: Option[DataFrame] = None): Int = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.hadoop.fs.Path
    val rawRoot = new Path(path)
    val fs = rawRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BEFORE any prefix-stripping: listStatus returns fully
    // qualified leaf paths, so a relative/unqualified `path` (the CLI
    // passes one) would never strip and every valuesOf would be wrong
    val root = fs.makeQualified(rawRoot)
    val staging = new Path(path + ".compact-staging")
    // a leftover staging dir from an interrupted run may hold the ONLY
    // copy of a partition (its leaf renamed aside mid-swap): restore
    // BEFORE walking the tree, so recovered leaves rejoin this cycle
    recoverStaging(fs, staging)

    // walk the fixed-depth partition tree: depth = partitionCols.size
    def leaves(dir: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(dir)
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => leaves(s.getPath, depth - 1))
    val allLeaves = leaves(root, partitionCols.size)

    // partition values as they appear in the path (escaped-name → raw)
    def valuesOf(leaf: Path): Seq[String] = {
      val rel = leaf.toUri.getPath.stripPrefix(root.toUri.getPath)
        .split('/').filter(_.nonEmpty).toSeq
      rel.map { seg =>
        val v = seg.substring(seg.indexOf('=') + 1)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(v)
      }
    }
    val wanted: Option[Set[Seq[String]]] = onlyPartitions.map { df =>
      df.select(partitionCols.map(c =>
          org.apache.spark.sql.functions.col(c).cast("string")): _*)
        .distinct().collect()
        .map(r => partitionCols.indices.map { i =>
          // a null partition value is encoded on disk as the Hive
          // default-partition dir name; match it or null-keyed
          // partitions silently never compact in scoped mode
          Option(r.getString(i)).getOrElse(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .DEFAULT_PARTITION_NAME)
        })
        .toSet
    }

    val toCompact = allLeaves.flatMap { leaf =>
      if (wanted.exists(w => !w.contains(valuesOf(leaf)))) None
      else {
        val files = fs.listStatus(leaf)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val needed = math.max(1L,
          (bytes + targetBytes - 1) / targetBytes).toInt
        if (files.length > needed) Some((leaf, needed)) else None
      }
    }

    if (toCompact.nonEmpty) {
      // the aside→leaf map, written BEFORE any rename: every displaced
      // partition is recoverable (and auto-recovered above) from the
      // staging dir alone. Leaf dir names are Hive-escaped (no control
      // chars), so newline framing is safe.
      val marker = new Path(staging, "_leaf_map")
      val out = fs.create(marker, false)
      try out.write(toCompact.zipWithIndex
        .map { case ((leaf, _), i) => s"$i\t$leaf\n" }.mkString
        .getBytes("UTF-8"))
      finally out.close()
      toCompact.zipWithIndex.foreach { case ((leaf, needed), i) =>
        // read the leaf directly — its rows only, partition values
        // live in the path and are not part of the file schema
        val part = spark.read.parquet(leaf.toString).repartition(needed)
        val staged = new Path(staging, i.toString)
        part.write.parquet(staged.toString)
        // swap via rename-aside, never delete-then-rename: at every
        // instant at least one full copy of the partition exists (the
        // leaf, or <i>.old inside staging — which the marker above
        // makes self-recovering for the next run)
        val aside = new Path(staging, i.toString + ".old")
        require(fs.rename(leaf, aside),
          s"compactPartitions: rename $leaf -> $aside failed")
        require(fs.rename(staged, leaf),
          s"compactPartitions: rename $staged -> $leaf failed")
        fs.delete(aside, true)
      }
      fs.delete(staging, true)
    }
    toCompact.size
  }

  /** Crash recovery for [[compactPartitions]]: a non-empty staging dir
    * means a previous run died mid-cycle. The `_leaf_map` marker
    * (written before any rename) maps each `<i>.old` aside dir to its
    * leaf, so recovery is automatic: a displaced partition whose leaf
    * is missing (crash between the two renames) is renamed back; an
    * aside whose leaf exists (crash after the swap, before cleanup) is
    * a superseded copy and is dropped with the rest of the staging
    * dir. Only a pre-marker staging holding asides — unreachable from
    * this code path, since the marker now precedes all renames — still
    * refuses loudly rather than guess at leaf paths. */
  private def recoverStaging(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(staging)) return
    val entries = fs.listStatus(staging).toSeq
    val asides = entries.filter(s =>
      s.isDirectory && s.getPath.getName.endsWith(".old"))
    val marker = new Path(staging, "_leaf_map")
    if (!fs.exists(marker)) {
      require(asides.isEmpty,
        s"compactPartitions: $staging holds displaced partitions but " +
          "no _leaf_map marker — inspect it (each <i>.old dir is a " +
          "displaced partition; rename it back to its leaf), then " +
          "delete the staging dir")
      // no renames ever happened: staging is partial output only
      fs.delete(staging, true)
      return
    }
    val in = fs.open(marker)
    val leafOf: Map[String, String] =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { line =>
          val Array(i, leaf) = line.split('\t')
          i -> leaf
        }.toMap
      finally in.close()
    asides.foreach { a =>
      val i = a.getPath.getName.stripSuffix(".old")
      val leaf = new Path(leafOf(i))
      if (!fs.exists(leaf))
        require(fs.rename(a.getPath, leaf),
          s"compactPartitions recovery: rename ${a.getPath} -> $leaf " +
            "failed")
    }
    fs.delete(staging, true)
  }
}
