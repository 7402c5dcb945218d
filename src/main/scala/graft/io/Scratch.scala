package graft.io

import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The process's one scratch root, for every intermediate the engine
  * stages: `stage` parquet, the streaming gates' staging, sink and
  * checkpoint dirs, and the once-per-sf-dir tables of `stagedOnce`. Made
  * once (first use) by Spark's `Utils.createTempDir`, so each use is a
  * cheap path under an existing root, two processes never share a
  * staged table, and the whole root is deleted at JVM shutdown.
  * Nothing is deleted while the process lives.
  *
  * The staging rule: an operator that persists anything stages its own
  * result through `stage` and unpersists its caches (in a `finally`)
  * before it returns a plain DataFrame, so no cache outlives the call
  * and the result can be re-read any number of times. Iterative loops
  * cut their per-round lineage with `truncate` / `cut`. */
object Scratch {

  private lazy val root: java.nio.file.Path =
    GraftSparkBridge.createTempDir("graft_scratch").toPath
  private val runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** A fresh path under the root (not created): `tag_<n>`. */
  def path(tag: String): java.nio.file.Path =
    root.resolve(tag + "_" + runs.incrementAndGet())

  /** Write `df` to a fresh scratch parquet dir and return the
    * read-back frame. Eager: the caller may unpersist every cache
    * `df` reads as soon as this returns, which keeps
    * `sparkContext.getPersistentRDDs` FLAT across repeated calls
    * (the r12 bench residue signature was +2 persistent RDDs per
    * full-suite pass). The read-back reuses the written schema, so it
    * launches no parquet footer schema-inference job; a file read
    * makes every column nullable either way, so the frame's schema is
    * the one inference would give. */
  def stage(df: DataFrame, tag: String): DataFrame = {
    val p = path(tag).toString
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.schema(df.schema).parquet(p)
  }

  /** A fit-once table: built and staged (crash-safe overwrite under
    * a fresh `tag` path) on the first call per (tag, sf dir) in this
    * process, read back through `Inputs.parquet` on every call. For
    * index-build work (PQ/IVF fits, dedup islands) that serving gates
    * consume instead of redoing; the table lives until the root is
    * deleted. One builder per key runs at a time; a builder may read
    * another key's table (the residual-PQ fit reads the IVF one). */
  def stagedOnce(spark: SparkSession, tag: String, sfDir: String)(
      build: => DataFrame): DataFrame =
    Inputs.parquet(spark,
      once.computeIfAbsent((tag, sfDir), _ => new Once(tag, () => build))
        .path)

  // a lazy val per key, so one key's build never runs inside the
  // map's own compute (a nested build would be a recursive update)
  private final class Once(tag: String, build: () => DataFrame) {
    lazy val path: String = {
      val p = Scratch.path(tag).toString
      Writers.overwriteStaged(build(), p)
      p
    }
  }
  private val once =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Once]()

  /** `df` rebuilt from its RDD: the logical plan becomes one scan of
    * that RDD, so an iterative loop's round-N plan does not nest
    * rounds 1..N-1 (without it plan size and analysis time grow per
    * round — exponentially where a round is referenced twice). */
  def truncate(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** `truncate`, persisted (MEMORY_AND_DISK) and materialized by one
    * `count`, so the caller can release the previous round's cache
    * without the new one ever recomputing it. The caller unpersists
    * the returned frame. */
  def cut(df: DataFrame): DataFrame = {
    val t = truncate(df).persist(StorageLevel.MEMORY_AND_DISK)
    try t.count() catch { case e: Throwable => t.unpersist(); throw e }
    t
  }
}
