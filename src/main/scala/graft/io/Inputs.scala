package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's parquet loader: `graft.Tables.t` with each input's
  * inferred schema kept for the life of the process.
  *
  * A bare `spark.read.parquet(p)` infers the schema from the parquet
  * footers, and that inference is a one-task Spark job on every call,
  * although the answer only changes when the files or the parquet
  * confs do. Here the first read of a path infers with Spark's own
  * `spark.read.parquet(p).schema`; every later read passes that schema
  * to `spark.read.schema(s).parquet(p)`, which lists the files and
  * starts no job. Measured in `spark-shell` (`local[4]`, 4-vCPU VM,
  * the six dimension and order tables at sf0.01, 30 reads each, after
  * a warm-up round): ~77 ms per `Tables.t` read, ~16 ms per `t` read.
  *
  * The memo holds one entry per path, so it is bounded by the number of
  * distinct inputs the process reads. An entry maps the path to
  *  - the sorted (file, length, modification time) of every file under
  *    it, from one Hadoop `listFiles`, so a table rewritten in place is
  *    inferred again;
  *  - the session's parquet confs (`spark.conf.getAll` keys containing
  *    `parquet`), since `nanosAsLong`, `binaryAsString` and the like
  *    change what inference returns;
  *  - the schema inferred under those two.
  * A path that cannot be listed or holds no file is read plainly, so a
  * missing input fails with Spark's own error. */
object Inputs {

  private final case class Entry(files: Seq[(String, Long, Long)],
      confs: Map[String, String], schema: StructType)

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** `graft.Tables.t`, same signature and result: the fixture table
    * `name` under `dir`, with `events.ts` normalized to TimestampType. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // see Tables.t: read int64-nanos `ts` as a long, then normalize
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.Tables.normalizeEventTs(parquet(spark, s"$dir/$name.parquet"))
    } else parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)`, with the schema inferred once per
    * (files, parquet confs) of `path`. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case Some(files) =>
        val confs = spark.conf.getAll.filter(_._1.contains("parquet"))
        val hit = memo.get(path)
        val schema =
          if (hit != null && hit.files == files && hit.confs == confs)
            hit.schema
          else {
            val s = spark.read.parquet(path).schema
            memo.put(path, Entry(files, confs, s))
            s
          }
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Every file under `path` as sorted (name, length, mtime); None when
    * the path cannot be listed or holds no file. */
  private def listing(spark: SparkSession,
      path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted).filter(_.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }
}
