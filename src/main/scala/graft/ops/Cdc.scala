package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Snapshot differencing — the change-data-capture view a warehouse
  * derives when a source re-delivers a full table and only the delta
  * should flow downstream (the complement of `ingest.Incremental`,
  * which consumes a known-new batch: here NOTHING marks the changes,
  * so the diff itself must find adds, deletes, and per-column
  * updates).
  *
  * Scale shape: ONE full-outer sort-merge join on the key — both
  * sides shuffle once on the key they would be bucketed by in a real
  * warehouse (bucketed snapshots co-locate and the shuffle
  * disappears). Column comparison happens inside the join projection
  * via two structs (null-safe, codegen'd); nothing is collected and
  * no per-column pass re-reads either snapshot. Unchanged rows are
  * dropped before anything downstream sees them — at 100 TB the diff
  * output is delta-sized, never snapshot-sized.
  */
object Cdc {

  /** Diff `curr` against `base` on `keys`. Emits one row per key
    * whose row was added, removed, or changed — with the CHANGED
    * COLUMN LIST (base-column order) so downstream consumers can
    * subscribe per column. The full before/after rows ride along as
    * structs for consumers that need values, not just names. */
  def snapshotDiff(base: DataFrame, curr: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = base.columns.filterNot(keys.contains)
      .filter(curr.columns.contains).toSeq
    require(dataCols.nonEmpty, "no shared non-key columns to diff")
    val b = base.select(keys.map(col) :+
      struct(dataCols.map(col): _*).as("b_row"): _*)
    val c = curr.select(keys.map(col) :+
      struct(dataCols.map(col): _*).as("c_row"): _*)
    val diffs = dataCols.map(cn =>
      when(!(col(s"b_row.$cn") <=> col(s"c_row.$cn")), lit(cn)))
    b.join(c, keys, "full_outer")
      .withColumn("change",
        when(col("b_row").isNull, lit("added"))
          .when(col("c_row").isNull, lit("removed"))
          .when(!(col("b_row") <=> col("c_row")), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .withColumn("changed_cols",
        when(col("change") === "changed", concat_ws(",", diffs: _*)))
  }

  /** Apply a `snapshotDiff` back onto `base` — the MERGE/upsert side
    * of the CDC pair: added keys insert their `c_row`, removed keys
    * drop, changed keys take the `c_row` values. Exact inverse,
    * spec-pinned: `applyDiff(base, snapshotDiff(base, curr, keys),
    * keys) ≡ curr` on the shared columns.
    *
    * Scale shape: base shuffles once on the key it joins the
    * delta-sized diff on (a bucketed base co-locates and AQE
    * broadcasts the diff when it fits — the delta is delta-sized by
    * construction); adds ride in on a union. No per-column pass, no
    * collect. For a partitioned warehouse table the staged
    * partition-overwrite (`Writers.refreshPartitions`) scopes the
    * rewrite to partitions the diff actually touches. */
  def applyDiff(base: DataFrame, diff: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = diff.schema("c_row").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq
    val upd = diff.filter(col("change") =!= "added")
      .select(keys.map(col) ++
        Seq(col("change").as("__chg"), col("c_row").as("__c")): _*)
    val merged = base.select((keys ++ dataCols).map(col): _*)
      .join(upd, keys, "left")
      .filter(col("__chg").isNull || col("__chg") =!= "removed")
      .select(keys.map(col) ++ dataCols.map(cn =>
        when(col("__chg") === "changed", col(s"__c.$cn"))
          .otherwise(col(cn)).as(cn)): _*)
    val adds = diff.filter(col("change") === "added")
      .select(keys.map(col) ++
        dataCols.map(cn => col(s"c_row.$cn").as(cn)): _*)
    merged.unionByName(adds)
  }

  /** Gate: two deterministic snapshots of `orders` (both engines
    * rebuild them from the same table — the MESSY-url fixture
    * precedent): base drops keys ≡ 0 (mod 97), curr drops keys ≡ 0
    * (mod 89) and mutates o_totalprice on keys ≡ 0 (mod 13) and
    * o_orderpriority on keys ≡ 0 (mod 31) — so the diff exercises
    * adds, removes, one-column and two-column changes. */
  private def cdcSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val (base, curr) = gateSnapshots(s, d)
    snapshotDiff(base, curr, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("change"), col("changed_cols"),
        col("b_row.o_totalprice").as("old_totalprice"),
        col("c_row.o_totalprice").as("new_totalprice"))
  }

  /** Initialize an SCD Type-2 history table from a first snapshot:
    * every row becomes the open version (valid_from = `batchId`,
    * valid_to = NULL, is_current = true). */
  def scd2Init(snapshot: DataFrame, batchId: Long): DataFrame =
    snapshot
      .withColumn("valid_from", lit(batchId))
      .withColumn("valid_to", lit(null).cast("bigint"))
      .withColumn("is_current", lit(true))

  /** Advance an SCD Type-2 history table by one `snapshotDiff`: the
    * slowly-changing-dimension discipline every warehouse keeps for
    * audit/as-of queries — no UPDATE in place, every key's value
    * timeline is an append-only chain of versions.
    *
    *  - changed/removed keys: the OPEN version closes
    *    (valid_to = `batchId`, is_current = false);
    *  - changed/added keys: a new open version inserts with the
    *    `c_row` values (valid_from = `batchId`).
    *
    * Invariant (spec-pinned): `scd2Apply(hist, diff, …).filter
    * (is_current)` ≡ the current snapshot on the tracked columns —
    * i.e. the history's open slice IS `applyDiff` of the previous
    * open slice.
    *
    * Scale shape: one key join of the history against the DELTA-SIZED
    * diff (closed versions pass through the join untouched; AQE
    * broadcasts the diff when it fits) + one union of the new
    * versions. Nothing is collected; at 100 TB the per-batch cost
    * tracks the delta plus one history scan — and a warehouse that
    * partitions history by is_current rewrites only the open
    * partition (`Writers.refreshPartitions`). */
  def scd2Apply(hist: DataFrame, diff: DataFrame, keys: Seq[String],
      batchId: Long): DataFrame = {
    val dataCols = diff.schema("c_row").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq
    val histCols = keys ++ dataCols ++
      Seq("valid_from", "valid_to", "is_current")
    val closing = diff.filter(col("change").isin("changed", "removed"))
      .select(keys.map(col) :+ lit(true).as("__close"): _*)
    val carried = hist.select(histCols.map(col): _*)
      .join(closing, keys, "left")
      .select(keys.map(col) ++ dataCols.map(col) ++ Seq(
        col("valid_from"),
        when(col("is_current") && col("__close").isNotNull,
          lit(batchId)).otherwise(col("valid_to")).as("valid_to"),
        (col("is_current") && col("__close").isNull)
          .as("is_current")): _*)
    val opened = diff.filter(col("change").isin("changed", "added"))
      .select(keys.map(col) ++
        dataCols.map(cn => col(s"c_row.$cn").as(cn)) ++ Seq(
        lit(batchId).as("valid_from"),
        lit(null).cast("bigint").as("valid_to"),
        lit(true).as("is_current")): _*)
    carried.unionByName(opened)
  }

  /** As-of (time-travel) lookup over an SCD2 history: the snapshot as
    * it stood after batch `batchId` — versions opened at or before it
    * and not yet closed by it. Spec-pinned inverses:
    * `scd2AsOf(hist, k)` ≡ the batch-k snapshot for every k the
    * history has absorbed. One scan, one filter — partition pruning
    * does the rest when history is partitioned on is_current /
    * valid_from. */
  def scd2AsOf(hist: DataFrame, batchId: Long): DataFrame =
    hist.filter(col("valid_from") <= batchId &&
        (col("valid_to").isNull || col("valid_to") > batchId))
      .drop("valid_from", "valid_to", "is_current")

  private def gateSnapshots(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val orders = t(s, d, "orders")
    val base = orders.filter(col("o_orderkey") % 97 =!= 0)
    val curr = orders.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 31 === 0, lit("9-RUSH"))
          .otherwise(col("o_orderpriority")))
    (base, curr)
  }

  /** Gate: the diff→apply ROUND TRIP — apply the gate diff back onto
    * the gate base; the oracle is simply the curr snapshot rebuilt in
    * SQL, so any wrong add/drop/column-merge on any key
    * hash-mismatches against the independently-reconstructed truth. */
  private def cdcApply(s: SparkSession, d: String): DataFrame = {
    val (base, curr) = gateSnapshots(s, d)
    applyDiff(base, snapshotDiff(base, curr, Seq("o_orderkey")),
      Seq("o_orderkey"))
  }

  /** Gate: one SCD2 batch advance — history initialized from the base
    * snapshot at batch 0, advanced by the gate diff at batch 1. The
    * oracle rebuilds every version timeline independently: base rows
    * (closed iff their key changed or was removed), plus the batch-1
    * open versions for added/changed keys. */
  private def cdcScd2(s: SparkSession, d: String): DataFrame = {
    val (base, curr) = gateSnapshots(s, d)
    scd2Apply(scd2Init(base, 0L),
      snapshotDiff(base, curr, Seq("o_orderkey")),
      Seq("o_orderkey"), 1L)
  }

  // ---- streaming upsert (the foreachBatch MERGE side of CDC) ----

  /** Deterministic keyed change feed for the streaming-upsert gate:
    * orders become (key, payload, op, seq, batch) upsert/delete events
    * — ~10% deletes, many events per key (o_custkey), three batches.
    * `seq` (the unique orderkey) is the within-batch tiebreak. */
  def changeFeed(orders: DataFrame): DataFrame = orders.select(
    col("o_custkey").as("key"),
    col("o_totalprice").as("payload"),
    when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U"))
      .as("op"),
    col("o_orderkey").as("seq"),
    (col("o_orderkey") % 3).cast("int").as("batch"))

  /** One micro-batch of streaming MERGE into a parquet state table:
    * collapse the batch to its last event per key (max seq), drop
    * every touched key from the current state, re-insert the keys
    * whose last op is an upsert, and publish via staged overwrite (a
    * reader never sees a half-written state). Per batch: one window
    * over the BATCH (delta-sized), one anti-join of state × delta
    * keys, one union — the same delta-sized cost discipline as
    * `applyDiff`; a real warehouse partitions the state and uses
    * `Writers.refreshPartitions` so only touched partitions rewrite. */
  def upsertBatch(spark: SparkSession, batch: DataFrame,
      statePath: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val latest = batch.withColumn("__rn",
        row_number().over(Window.partitionBy("key")
          .orderBy(col("seq").desc)))
      .filter(col("__rn") === 1)
      .select("key", "payload", "op", "seq")
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a swap that crashed mid-publish leaves the previous generation
    // as `.retired` — restore it before reading
    graft.io.Writers.recoverStaged(spark, statePath)
    val marker = new org.apache.hadoop.fs.Path(statePath + ".initialized")
    val hasState = fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    // "never initialized" and "state went missing" are NOT the same:
    // silently treating a vanished state as empty would rebuild the
    // table from one replayed batch, dropping every previously merged
    // key (r13 ADVICE). The marker is written once at first publish.
    require(hasState || !fs.exists(marker),
      s"CDC state $statePath was initialized before but is missing and " +
        "no retired generation exists to recover — refusing to rebuild " +
        "state from a single replayed batch")
    val cur =
      if (hasState) spark.read.parquet(statePath)
      else latest.select("key", "payload", "seq").limit(0)
    val merged = cur.join(latest.select("key"), Seq("key"), "left_anti")
      .union(latest.filter(col("op") === "U")
        .select("key", "payload", "seq"))
    graft.io.Writers.overwriteStaged(merged, statePath)
    if (!fs.exists(marker)) fs.create(marker).close()
  }

  val gates: Seq[Gate] = Seq(
    Gate("cdc_snapshot_diff", cdcSnapshotDiff _, Some(
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 97 <> 0),
         curr AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS o_totalprice,
             o_orderdate,
             CASE WHEN o_orderkey % 31 = 0 THEN '9-RUSH'
               ELSE o_orderpriority END AS o_orderpriority
           FROM orders WHERE o_orderkey % 89 <> 0),
         j AS (
           SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
             b.o_orderkey IS NULL AS is_add,
             c.o_orderkey IS NULL AS is_rem,
             b.o_custkey IS DISTINCT FROM c.o_custkey AS d_cust,
             b.o_orderstatus IS DISTINCT FROM c.o_orderstatus AS d_stat,
             b.o_totalprice IS DISTINCT FROM c.o_totalprice AS d_price,
             b.o_orderdate IS DISTINCT FROM c.o_orderdate AS d_date,
             b.o_orderpriority IS DISTINCT FROM c.o_orderpriority AS d_prio,
             b.o_totalprice AS old_totalprice,
             c.o_totalprice AS new_totalprice
           FROM base b FULL OUTER JOIN curr c
             ON b.o_orderkey = c.o_orderkey)
         SELECT o_orderkey,
           CASE WHEN is_add THEN 'added'
                WHEN is_rem THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN NOT is_add AND NOT is_rem THEN concat_ws(',',
             CASE WHEN d_cust THEN 'o_custkey' END,
             CASE WHEN d_stat THEN 'o_orderstatus' END,
             CASE WHEN d_price THEN 'o_totalprice' END,
             CASE WHEN d_date THEN 'o_orderdate' END,
             CASE WHEN d_prio THEN 'o_orderpriority' END) END
             AS changed_cols,
           old_totalprice, new_totalprice
         FROM j
         WHERE is_add OR is_rem
            OR d_cust OR d_stat OR d_price OR d_date OR d_prio""")),
    Gate("cdc_apply", cdcApply _, Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
             ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % 31 = 0 THEN '9-RUSH'
             ELSE o_orderpriority END AS o_orderpriority
         FROM orders WHERE o_orderkey % 89 <> 0""")),
    Gate("cdc_scd2", cdcScd2 _, Some(
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 97 <> 0),
         curr AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
               ELSE o_totalprice END AS o_totalprice,
             o_orderdate,
             CASE WHEN o_orderkey % 31 = 0 THEN '9-RUSH'
               ELSE o_orderpriority END AS o_orderpriority
           FROM orders WHERE o_orderkey % 89 <> 0),
         chg AS (
           SELECT b.o_orderkey AS k
           FROM base b JOIN curr c ON b.o_orderkey = c.o_orderkey
           WHERE b.o_custkey IS DISTINCT FROM c.o_custkey
              OR b.o_orderstatus IS DISTINCT FROM c.o_orderstatus
              OR b.o_totalprice IS DISTINCT FROM c.o_totalprice
              OR b.o_orderdate IS DISTINCT FROM c.o_orderdate
              OR b.o_orderpriority IS DISTINCT FROM c.o_orderpriority),
         rem AS (
           SELECT o_orderkey AS k FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM curr)),
         addk AS (
           SELECT o_orderkey AS k FROM curr
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)),
         closing AS (SELECT k FROM chg UNION ALL SELECT k FROM rem)
         SELECT b.*, CAST(0 AS BIGINT) AS valid_from,
           CASE WHEN b.o_orderkey IN (SELECT k FROM closing)
             THEN CAST(1 AS BIGINT) END AS valid_to,
           b.o_orderkey NOT IN (SELECT k FROM closing) AS is_current
         FROM base b
         UNION ALL
         SELECT c.*, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true
         FROM curr c
         WHERE c.o_orderkey IN (SELECT k FROM chg)
            OR c.o_orderkey IN (SELECT k FROM addk)""")))
}
