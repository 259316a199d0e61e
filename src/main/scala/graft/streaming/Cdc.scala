package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC incremental-load protocol (SURVEY §2.9; reference:
  * Integration/SSIS/Practice/004 CDC.md, 005 CDC Case
  * Visualization.md, 006 CDC Store LSN label.md, …/Глава 12…md:59-73).
  *
  * The reference specifies an offset/watermark contract, not an
  * engine: a monotone LSN column orders a change log whose rows carry
  * `op` ∈ {1=delete, 2=insert, 4=update}; a tiny state table persists
  * the processed high-water mark; ranges are `(stored, currentMax]`;
  * state advances only after a successful apply (at-least-once ⇒
  * duplicates after crash-restart are EXPECTED and the apply must be
  * idempotent); a stored LSN below the log's retention floor is
  * silent data loss and must fail loudly (004 CDC.md:226-241).
  *
  * Spark shape: the apply is one keyed reconciliation — dedup the
  * range to latest-per-key (window), full-outer join to the target,
  * resolve. One shuffle on the key; linear at any scale. No MERGE
  * target exists over plain parquet, so the caller rewrites the
  * target output (the Delta/Iceberg seam documented in SURVEY §7.4).
  */
object Cdc {

  object Op {
    val Delete = 1
    val Insert = 2
    val Update = 4
  }

  final case class RetentionLossException(stored: Long, minAvailable: Long)
    extends RuntimeException(
      s"CDC retention loss: stored LSN $stored < oldest available LSN " +
        s"$minAvailable — change log no longer covers the gap; full reload required")

  /** Driver-side state store (the `cdc_states` table,
    * 006….md:22-27): one parquet of (state_name, state, last_update).
    * Small by construction — one row per pipeline.
    */
  final class StateStore(spark: SparkSession, path: String) {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}

    private def fs: FileSystem =
      new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def tmpPath = path + ".__staging"

    private def readFrom(p: String): Map[String, Long] =
      spark.read.parquet(p)
        .select("state_name", "state").as[(String, Long)]
        .collect().toMap

    /** Missing path = first run = empty state. ANY other failure
      * (corrupt footer, permissions, schema drift) rethrows: a state
      * store silently read as empty would reset every watermark and
      * bypass the retention guard — the exact silent-loss mode
      * C6/C7 exist to prevent.
      */
    private def readAll(): Map[String, Long] =
      if (fs.exists(new HPath(path))) readFrom(path)
      else if (fs.exists(new HPath(tmpPath))) readFrom(tmpPath) // crash between delete+rename
      else Map.empty

    def get(stateName: String): Option[Long] = readAll().get(stateName)

    /** Mark processed range — call ONLY after the output commit
      * succeeded (C6: state must not advance on failure). Writes to a
      * staging path first and renames over, so a crash mid-write
      * leaves either the old state or a complete staging copy — never
      * a torn file. Before writing, any staging copy left by a crash
      * between the previous delete and rename is PROMOTED back to the
      * main path — otherwise overwriting the staging path would
      * destroy the only surviving state copy.
      */
    def put(stateName: String, lsn: Long): Unit = {
      if (!fs.exists(new HPath(path)) && fs.exists(new HPath(tmpPath)))
        fs.rename(new HPath(tmpPath), new HPath(path)) // crash recovery
      val updated = readAll() + (stateName -> lsn)
      updated.toSeq
        .map { case (n, l) => (n, l, new java.sql.Timestamp(System.currentTimeMillis())) }
        .toDF("state_name", "state", "last_update")
        .coalesce(1)
        .write.mode("overwrite").parquet(tmpPath)
      fs.delete(new HPath(path), true)
      if (!fs.rename(new HPath(tmpPath), new HPath(path)))
        throw new java.io.IOException(
          s"state store rename failed: $tmpPath -> $path (state preserved at staging path)")
    }
  }

  /** Processing range `(from, to]` filter (C3). */
  def range(changes: DataFrame, lsnCol: String, from: Long, to: Long): DataFrame =
    changes.filter(col(lsnCol) > from && col(lsnCol) <= to)

  /** Retention-loss guard (C7): the stored watermark must still be
    * covered by the change log, else the gap was silently truncated.
    * `minAvailable` is the log's oldest retained LSN.
    */
  def retentionGuard(stored: Long, minAvailable: Long): Unit =
    if (stored < minAvailable - 1)
      throw RetentionLossException(stored, minAvailable)

  /** CDC Splitter (C4, …/Глава 12…md:62-63): fan a change range to
    * insert/update/delete streams by op marker.
    */
  def split(changes: DataFrame, opCol: String = "op"): Map[Int, DataFrame] =
    Map(
      Op.Delete -> changes.filter(col(opCol) === Op.Delete),
      Op.Insert -> changes.filter(col(opCol) === Op.Insert),
      Op.Update -> changes.filter(col(opCol) === Op.Update))

  /** Latest change per key (C5 dedup): crash-restart replays a range,
    * so the same key may appear twice — keep the highest LSN only.
    */
  def latestPerKey(changes: DataFrame, keyCols: Seq[String], lsnCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(lsnCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Idempotent apply (C5): reconcile a change range into the target.
    *
    * Target schema: keyCols ++ dataCols ++ last_lsn.
    * Changes schema: keyCols ++ dataCols ++ lsnCol ++ opCol.
    *
    * Keyed last-writer-wins with delete-removes semantics, which makes
    * the operation idempotent (applying a range twice ≡ once) and
    * composable (applying (a,b] then (b,c] ≡ applying (a,c]).
    */
  def apply(
      target: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      lsnCol: String = "lsn",
      opCol: String = "op"): DataFrame =
    applyLatest(target, latestPerKey(changes, keyCols, lsnCol),
      keyCols, dataCols, lsnCol, opCol)

  /** The reconcile step over an ALREADY latest-per-key change set —
    * callers that have deduped (applyPartitioned) skip the second
    * window pass.
    */
  private def applyLatest(
      target: DataFrame,
      latestChanges: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      lsnCol: String,
      opCol: String): DataFrame = {
    // Rename the change side so the plan never self-join-ambiguates
    // (target is often derived from the same source as the changes —
    // e.g. a snapshot built from an earlier range of the same log).
    def cc(name: String) = col(s"__c_$name")
    val latest = latestChanges
      .select((keyCols ++ dataCols :+ lsnCol :+ opCol)
        .map(n => col(n).as(s"__c_$n")): _*)
    val cond = keyCols.map(k => target(k) <=> cc(k)).reduce(_ && _)
    val joined = target.join(latest, cond, "full_outer")
    val useChange = cc(lsnCol).isNotNull
    val deleted = useChange && cc(opCol) === Op.Delete
    joined
      .filter(!coalesce(deleted, lit(false)))
      .select(
        keyCols.map(k => coalesce(cc(k), target(k)).as(k)) ++
        dataCols.map(d => when(useChange, cc(d)).otherwise(target(d)).as(d)) :+
        when(useChange, cc(lsnCol)).otherwise(target("last_lsn")).as("last_lsn"): _*)
  }

  /** Partition-scoped apply (the table-format-MERGE cost model over
    * plain parquet): the target lives hive-partitioned by a key-derived
    * partition value; only partitions CONTAINING changed keys are read,
    * reconciled, and rewritten — untouched partitions' files are never
    * opened. At 100 TB a CDC batch touches a tiny key set, so the
    * full-target rewrite (the correct-but-costly default `apply`
    * composition) is replaced by work proportional to the changed
    * partitions. Reference semantics: the MERGE upsert sketch
    * (Integration/SSIS/Practice/004 CDC.md:354-362, …/Глава
    * 12…md:87-99).
    *
    * `partOf` derives the partition value from a row's key columns and
    * MUST be a pure function of them (same key ⇒ same partition), or
    * a key's old and new versions could land in different partitions.
    * Partitions emptied by deletes are removed explicitly (dynamic
    * partition overwrite alone would leave their stale files: an empty
    * result writes no partition directory).
    */
  def applyPartitioned(
      spark: SparkSession,
      targetPath: String,
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      partCol: String,
      partOf: DataFrame => org.apache.spark.sql.Column,
      lsnCol: String = "lsn",
      opCol: String = "op",
      maxPartitionsPerBatch: Int = 10000): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val latest = latestPerKey(changes, keyCols, lsnCol)
    val withPart = latest.withColumn(partCol, partOf(latest))
    val parts = collectChangedPartitions(
      withPart, partCol, maxPartitionsPerBatch, "applyPartitioned")
    if (parts.isEmpty) return
    val target = spark.read.parquet(targetPath)
      .filter(col(partCol).isInCollection(parts)) // partition-pruned scan
      .select((keyCols ++ dataCols :+ "last_lsn").map(col): _*)
    // withPart is already latest-per-key — skip apply()'s own dedup
    val applied = applyLatest(target, withPart, keyCols, dataCols, lsnCol, opCol)
    // Materialize BEFORE the write: the reconciled result reads the
    // very files the dynamic overwrite replaces, so the lineage must
    // be cut (localCheckpoint) or write tasks would re-open deleted
    // inputs. (A table format makes this swap transactional; this is
    // the plain-parquet equivalent, scoped to the changed partitions.)
    val appliedP = graft.CacheScope.localCheckpointTruncated(
      applied.withColumn(partCol, partOf(applied)).repartition(col(partCol)))
    try {
      val remaining = appliedP.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSet
      appliedP
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(targetPath)
      // remove partitions whose keys were all deleted (absent from the
      // dynamic-overwrite output); directory names use the SAME
      // Hive-escaping the writer used, so special characters in values
      // still address the right directory
      val fs = new HPath(targetPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      parts.filterNot(remaining).foreach { p =>
        val dirVal = org.apache.spark.sql.GraftColumnBridge
          .escapePartitionValue(String.valueOf(p))
        fs.delete(new HPath(s"$targetPath/$partCol=$dirVal"), true)
      }
    } finally graft.CacheScope.unpersistCheckpoint(appliedP)
  }

  /** Partition METADATA collect — bounded by the batch's distinct
    * partition count, not data size. The ceiling turns a mis-declared
    * `partOf` (e.g. a raw timestamp: one partition per row) from a
    * silent driver OOM into a contract error; a null partition value
    * would land in Hive's default-partition directory AND escape the
    * isInCollection pruning — the key-derived function must be total.
    */
  private def collectChangedPartitions(
      withPart: DataFrame, partCol: String,
      maxParts: Int, op: String): Seq[Any] = {
    val parts = withPart.select(col(partCol)).distinct()
      .limit(maxParts + 1).collect().map(_.get(0)).toSeq
    require(parts.size <= maxParts,
      s"$op: change batch touches > $maxParts distinct partitions — " +
        "partOf is likely keyed too finely (raise maxPartitionsPerBatch " +
        "only if the partition count is genuinely metadata-scale)")
    require(!parts.contains(null),
      s"$op: partOf produced a null partition value")
    parts
  }

  /** TRANSACTIONAL partition-scoped apply — [[applyPartitioned]]'s
    * semantics over a [[graft.sources.TxTable]] instead of raw
    * parquet directories (the reference's MERGE target done right:
    * Integration/SSIS/Practice/004 CDC.md:354-362, …/Глава
    * 12…md:87-99). Same cost model — only partitions containing
    * changed keys are read, reconciled, and rewritten — but the swap
    * is ONE manifest commit, which buys what dynamic partition
    * overwrite cannot:
    *
    *  - a reader sees the pre-apply snapshot or the post-apply one,
    *    never some partitions new and others old (applyPartitioned's
    *    torn-visibility window);
    *  - a crash mid-apply leaves the table bit-identical (new data
    *    files are invisible until the manifest commits; no manual
    *    directory deletes to half-complete);
    *  - no lineage cut needed: data files are immutable, so the
    *    reconcile plan reads v(N) files while the write creates new
    *    ones — applyPartitioned must localCheckpoint to avoid its
    *    write tasks re-opening the directories it deletes;
    *  - delete-emptied partitions drop in the same commit
    *    (overwritePartitions' alsoDropValues), not by trailing
    *    filesystem deletes.
    *
    * The table must have schema keyCols ++ dataCols ++ last_lsn ++
    * partCol (any order — the reconcile output is aligned and cast to
    * the manifest schema). Returns the committed version, or the
    * current one for an empty change batch.
    */
  def applyTx(
      spark: SparkSession,
      txRoot: String,
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      partCol: String,
      partOf: DataFrame => org.apache.spark.sql.Column,
      lsnCol: String = "lsn",
      opCol: String = "op",
      maxPartitionsPerBatch: Int = 10000): Long = {
    import graft.sources.TxTable
    val latest = latestPerKey(changes, keyCols, lsnCol)
    val snap = TxTable.currentSnapshot(spark, txRoot).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $txRoot"))
    val schema = snap.schema
    // The derived partition value is cast to the STORED partition
    // column's type BEFORE it is collected: pruning and drop candidates
    // are matched by Hive directory STRING, so a wider partOf type
    // (e.g. Double 3.0 against a stored BIGINT directory 'bucket=3')
    // would read an empty target yet still drop the partition's old
    // files — silently losing every unchanged key in it.
    val withPart = latest.withColumn(
      partCol, partOf(latest).cast(schema(partCol).dataType))
    val parts = collectChangedPartitions(
      withPart, partCol, maxPartitionsPerBatch, "applyTx")
    if (parts.isEmpty) return snap.version
    // MANIFEST-side pruning: only the changed partitions' files enter
    // the scan's file index — at 100 TB a batch touching 5 partitions
    // must not list (or open footers for) the other million. A
    // row-level filter over a full-table read would preserve the
    // answer but defeat the manifest's entire reason to exist.
    val target = TxTable.readPartitionsOf(
        spark, txRoot, snap, partCol, parts.map(String.valueOf(_)))
      .select((keyCols ++ dataCols :+ "last_lsn").map(col): _*)
    val applied = applyLatest(target, withPart, keyCols, dataCols, lsnCol, opCol)
    // align column order AND types to the manifest schema — the commit
    // is refused on mismatch, and partOf may produce a wider type than
    // the stored partition column
    val aligned = applied.withColumn(partCol, partOf(applied))
      .select(schema.fields.toSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // every changed partition is passed as a drop candidate: partitions
    // whose keys were all deleted write no rows, and would otherwise
    // keep their stale files (an empty dynamic overwrite is a no-op).
    // expectedVersion pins the commit to the snapshot the reconcile
    // read — a concurrent commit in between aborts this one instead of
    // being silently overwritten.
    TxTable.overwritePartitions(
      aligned, txRoot, partCol, parts.map(String.valueOf(_)),
      expectedVersion = Some(snap.version))
  }

  /** MERGE-ON-READ CDC apply: the same idempotent last-writer-wins
    * reconcile as [[applyTx]], but through
    * [[graft.sources.MergeOnRead.mergeInto]] — ONE atomic commit
    * masks changed keys' old images with a position-delete file and
    * appends their post-images; write bytes ∝ BATCH size, never
    * partition size. [[applyTx]]'s copy-on-write partition rewrite
    * wins when a batch's keys cluster inside few partitions; this
    * wins when they scatter — at 100 TB a trickle batch touching one
    * key per bucket rewrites nothing either way here. No derived
    * partition column or `partOf` contract is needed: the table's own
    * layout (e.g. `bucket(16,user_id)`) places the appended
    * post-images, so SPJ/pruning survive. Tombstones for never-seen
    * keys are skipped (the NOT MATCHED insert is gated on op ≠
    * delete), matching [[apply]]'s delete-removes semantics.
    *
    * Target schema: keyCols ++ dataCols ++ last_lsn (as [[applyTx]]).
    * Returns the committed version (unchanged when the batch nets to
    * nothing). `txn = Some((txnId, batchId))` makes the apply
    * EXACTLY-ONCE under streaming replay — `foreachBatch { (b, id) =>
    * applyTxMor(…, txn = Some((qid, id))) }` is a replay-safe
    * streaming CDC-upsert sink (the txnAppend watermark contract,
    * advanced atomically with the apply's own commit).
    */
  def applyTxMor(
      spark: SparkSession,
      txRoot: String,
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      lsnCol: String = "lsn",
      opCol: String = "op",
      txn: Option[(String, Long)] = None): Long = {
    import graft.sources.MergeOnRead
    val latest = latestPerKey(changes, keyCols, lsnCol)
    // align to the target's column names; the op rides along under a
    // collision-proof name so clause predicates can see it without it
    // ever entering the table (update-all claims only table columns)
    val src = latest.select(
      (keyCols ++ dataCols).map(col) :+
        col(lsnCol).as("last_lsn") :+ col(opCol).as("__g_op"): _*)
    MergeOnRead.mergeInto(spark, txRoot, src, keyCols,
      matchedSets = Some(Nil),
      matchedDelete = Some(col("src.__g_op") === lit(Op.Delete)),
      insertUnmatched = true,
      insertCond = Some(col("src.__g_op") =!= lit(Op.Delete)),
      txn = txn).version
  }

  /** Empty target with the apply-compatible schema (C1 initial load
    * starts from nothing; the snapshot is just `apply` of the full
    * range onto this).
    */
  def emptyTarget(
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      lsnCol: String = "lsn"): DataFrame =
    changes
      .select((keyCols ++ dataCols).map(col) :+ col(lsnCol).as("last_lsn"): _*)
      .limit(0)

  /** Lag monitoring (C8): hours between the processed watermark's
    * timestamp and the newest change — the reference alerts when
    * retention headroom falls under 24h (004 CDC.md:288-298).
    */
  def lagHours(stateTs: java.sql.Timestamp, newestChangeTs: java.sql.Timestamp): Double =
    (newestChangeTs.getTime - stateTs.getTime) / 3600000.0
}
