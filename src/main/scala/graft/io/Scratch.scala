package graft.io

import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.DataFrame

/** The process's one scratch root, for every intermediate the engine
  * stages: `stageAndRelease` parquet, the streaming gates' staging,
  * sink and checkpoint dirs, and the once-per-sf-dir PQ/IVF/island
  * tables. Made once (first use) by Spark's `Utils.createTempDir`, so
  * each use is a cheap path under an existing root, two processes never
  * share a staged table, and the whole root is deleted at JVM shutdown.
  * Nothing is deleted while the process lives. */
object Scratch {

  private lazy val root: java.nio.file.Path =
    GraftSparkBridge.createTempDir("graft_scratch").toPath
  private val runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh path under the root (not created): `tag_<n>`. */
  def path(tag: String): java.nio.file.Path =
    root.resolve(tag + "_" + runs.incrementAndGet())

  /** Write `df` to a fresh scratch parquet dir, run `release` (the
    * operator's cache-release handle), return the read-back frame — so
    * repeated gate invocations leave `sparkContext.getPersistentRDDs`
    * FLAT instead of accumulating ContextCleaner-reclaimed-only residue
    * (the r12 bench residue signature: +2 persistent RDDs per
    * full-suite pass). */
  def stageAndRelease(df: DataFrame, release: () => Unit,
      tag: String): DataFrame = {
    val p = path(tag).toString
    df.write.mode("overwrite").parquet(p)
    release()
    df.sparkSession.read.parquet(p)
  }
}
