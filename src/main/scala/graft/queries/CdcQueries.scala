package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Cdc

/** CDC protocol exercised end-to-end on the `events` table treated as
  * a change log: lsn = event_id (monotone), op derived from
  * event_type (error→delete, signup→insert, else update), key =
  * user_id, payload = value.
  */
object CdcQueries {

  def all: Seq[Q] = Seq(cdcApply, cdcTx, cdcMor, tableChanges, restoreQ)

  private[queries] def changeFeed(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id"),
      col("value").as("amount"),
      col("event_id").as("lsn"),
      when(col("event_type") === "error", Cdc.Op.Delete)
        .when(col("event_type") === "signup", Cdc.Op.Insert)
        .otherwise(Cdc.Op.Update).as("op"))

  /** The oracle for BOTH apply paths: sequential range application
    * must equal one latest-per-key pass over the whole log.
    */
  private val latestPerKeySql =
    """SELECT user_id, amount, last_lsn FROM (
      |  SELECT user_id, value AS amount, event_id AS last_lsn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn,
      |    CASE event_type WHEN 'error' THEN 1 WHEN 'signup' THEN 2 ELSE 4 END AS op
      |  FROM events) t
      |WHERE rn = 1 AND op <> 1
      |ORDER BY user_id""".stripMargin

  /** Two-phase incremental apply (C1–C5): snapshot from the first half
    * of the log, then the `(mid, max]` range applied incrementally.
    */
  val cdcApply: Q = Q("q_cdc_apply", latestPerKeySql) { (s, dir) =>
    val feed = changeFeed(s, dir)
    val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
    val mid = maxLsn / 2
    val keys = Seq("user_id")
    val data = Seq("amount")
    val snapshot = Cdc.apply(
      Cdc.emptyTarget(feed, keys, data),
      Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data)
    Cdc.apply(snapshot, Cdc.range(feed, "lsn", mid, maxLsn), keys, data)
      .orderBy(col("user_id"))
  }

  /** TRANSACTIONAL two-phase apply — the same protocol as
    * [[cdcApply]] but through a [[graft.sources.TxTable]] MERGE
    * target (reference: Integration/SSIS/Practice/004 CDC.md:354-362,
    * …/Глава 12…md:87-99): snapshot of the first half committed as
    * table v0 (hive-partitioned on a key-derived bucket), then the
    * `(mid, max]` range applied with [[Cdc.applyTx]] — a
    * manifest-pruned read of ONLY the changed buckets and ONE atomic
    * multi-partition commit. The read-back of the committed table
    * must equal the same latest-per-key oracle as the
    * non-transactional path.
    */
  val cdcTx: Q = Q("q_cdc_tx", latestPerKeySql) { (s, dir) =>
    import graft.sources.TxTable
    val feed = changeFeed(s, dir)
    val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
    val mid = maxLsn / 2
    val keys = Seq("user_id")
    val data = Seq("amount")
    val bucketOf = (d: org.apache.spark.sql.DataFrame) =>
      pmod(col("user_id"), lit(16L))
    val snapshot = Cdc.apply(
      Cdc.emptyTarget(feed, keys, data),
      Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data)
    // deterministic per-dir root: create() reinitializes it each run
    val root = Fixtures.path("cdc_tx_q", dir)
    TxTable.create(
      snapshot.withColumn("bucket", bucketOf(snapshot)), root, Some("bucket"))
    Cdc.applyTx(s, root, Cdc.range(feed, "lsn", mid, maxLsn),
      keys, data, "bucket", bucketOf)
    TxTable.read(s, root)
      .select(col("user_id"), col("amount"), col("last_lsn"))
      .orderBy(col("user_id"))
  }

  /** MERGE-ON-READ two-phase apply ([[Cdc.applyTxMor]]): the same
    * protocol as [[cdcTx]], but the second-half range lands through
    * [[graft.sources.MergeOnRead.mergeInto]] — one atomic commit, a
    * position-delete mask for the changed keys' old images plus
    * appended post-images, write ∝ BATCH size instead of rewritten
    * partitions (the scattered-trickle CDC shape at 100 TB). The
    * target uses the engine's own bucket layout, no derived partition
    * column. The query REQUIREs the cost shape — every v0 data file
    * byte-identical after the apply — and the read-back must equal
    * the same latest-per-key oracle as both other apply paths, so
    * equality proves the merge path preserves the protocol's
    * idempotent last-writer-wins + delete-removes semantics.
    */
  val cdcMor: Q = Q("q_cdc_mor", latestPerKeySql) { (s, dir) =>
    import graft.sources.TxTable
    val feed = changeFeed(s, dir)
    val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
    val mid = maxLsn / 2
    val keys = Seq("user_id")
    val data = Seq("amount")
    val snapshot = Cdc.apply(
      Cdc.emptyTarget(feed, keys, data),
      Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data)
    val root = Fixtures.path("cdc_mor_q", dir)
    TxTable.create(snapshot, root, Some("bucket(16,user_id)"))
    val (_, w) = Fixtures.writeShape(s, root)(
      Cdc.applyTxMor(s, root, Cdc.range(feed, "lsn", mid, maxLsn), keys, data))
    // the point of the query: the apply wrote ∝ batch, not partitions
    require(w.untouched,
      "q_cdc_mor: merge-on-read apply must leave v0 data files " +
        "byte-identical")
    require(w.after.dvs.nonEmpty,
      "q_cdc_mor: expected a committed position-delete file")
    TxTable.read(s, root)
      .select(col("user_id"), col("amount"), col("last_lsn"))
      .orderBy(col("user_id"))
  }

  /** RESTORE ([[graft.sources.TxTable.restore]]): the same two-version
    * table as [[cdcTx]] (v0 = first-half snapshot, v1 = applyTx of the
    * second half), then `restore(root, 0)` — one metadata-only commit,
    * no data movement — and a read of the now-current state. The
    * oracle rebuilds the FIRST-half latest-per-key state from the raw
    * log, so equality proves the rollback surfaces exactly v0's rows
    * while v1 stays in history (asserted via readVersion).
    */
  val restoreQ: Q = Q(
    "q_restore",
    """SELECT user_id, amount, last_lsn FROM (
      |  SELECT user_id, value AS amount, event_id AS last_lsn,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn,
      |    CASE event_type WHEN 'error' THEN 1 WHEN 'signup' THEN 2 ELSE 4 END AS op
      |  FROM events
      |  WHERE event_id <= (SELECT max(event_id)//2 FROM events)) t
      |WHERE rn = 1 AND op <> 1
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    import graft.sources.TxTable
    val feed = changeFeed(s, dir)
    val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
    val mid = maxLsn / 2
    val keys = Seq("user_id")
    val data = Seq("amount")
    val bucketOf = (d: org.apache.spark.sql.DataFrame) =>
      pmod(col("user_id"), lit(16L))
    val snapshot = Cdc.apply(
      Cdc.emptyTarget(feed, keys, data),
      Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data)
    val root = Fixtures.path("cdc_restore_q", dir)
    TxTable.create(
      snapshot.withColumn("bucket", bucketOf(snapshot)), root, Some("bucket"))
    val v1 = Cdc.applyTx(s, root, Cdc.range(feed, "lsn", mid, maxLsn),
      keys, data, "bucket", bucketOf)
    val v2 = TxTable.restore(s, root, 0L)
    require(v2 == v1 + 1, s"restore must append to history (v1=$v1, got $v2)")
    require(TxTable.readVersion(s, root, v1).count() > 0,
      "the rolled-back version must stay time-travelable")
    TxTable.read(s, root)
      .select(col("user_id"), col("amount"), col("last_lsn"))
      .orderBy(col("user_id"))
  }

  /** OUTBOUND CDC ([[graft.sources.ChangeFeed]]): the same two-version
    * transactional table as [[cdcTx]] (v0 = first-half snapshot, v1 =
    * applyTx of the second half), then the row-level delta BETWEEN the
    * versions derived from the manifest diff — only the rewritten
    * buckets' files are read, never the table. The oracle rebuilds
    * both states from the raw log in DuckDB and full-outer-joins them,
    * so equality proves insert/update/delete classification, pre/post
    * image selection, AND that co-resident rows rewritten with
    * identical values are not reported as changes.
    */
  val tableChanges: Q = Q(
    "q_table_changes",
    """WITH log AS (SELECT user_id, value AS amount, event_id AS lsn,
      |    CASE event_type WHEN 'error' THEN 'd' WHEN 'signup' THEN 'i' ELSE 'u' END AS op
      |  FROM events),
      |s0 AS (SELECT user_id, amount, lsn FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
      |    FROM log WHERE lsn <= (SELECT max(event_id)//2 FROM events)) t
      |  WHERE rn = 1 AND op <> 'd'),
      |s1 AS (SELECT user_id, amount, lsn FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
      |    FROM log) t
      |  WHERE rn = 1 AND op <> 'd')
      |SELECT COALESCE(s1.user_id, s0.user_id) AS user_id,
      |  CASE WHEN s1.user_id IS NULL THEN s0.amount ELSE s1.amount END AS amount,
      |  CASE WHEN s1.user_id IS NULL THEN s0.lsn ELSE s1.lsn END AS last_lsn,
      |  COALESCE(s1.user_id, s0.user_id) % 16 AS bucket,
      |  CASE WHEN s0.user_id IS NULL THEN 'insert'
      |       WHEN s1.user_id IS NULL THEN 'delete' ELSE 'update' END AS _op
      |FROM s0 FULL OUTER JOIN s1 ON s0.user_id = s1.user_id
      |WHERE s0.user_id IS NULL OR s1.user_id IS NULL
      |   OR s0.amount <> s1.amount OR s0.lsn <> s1.lsn
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    import graft.sources.{ChangeFeed, TxTable}
    val feed = changeFeed(s, dir)
    val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
    val mid = maxLsn / 2
    val keys = Seq("user_id")
    val data = Seq("amount")
    val bucketOf = (d: org.apache.spark.sql.DataFrame) =>
      pmod(col("user_id"), lit(16L))
    val snapshot = Cdc.apply(
      Cdc.emptyTarget(feed, keys, data),
      Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data)
    val root = Fixtures.path("cdc_cf_q", dir)
    TxTable.create(
      snapshot.withColumn("bucket", bucketOf(snapshot)), root, Some("bucket"))
    val toV = Cdc.applyTx(s, root, Cdc.range(feed, "lsn", mid, maxLsn),
      keys, data, "bucket", bucketOf)
    ChangeFeed.between(s, root, 0L, toV, keys)
      .orderBy(col("user_id"))
  }
}
