package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Session, Tables}
import graft.functions.ExactAgg
import graft.sources.{CsvIngest, FixedWidth, Jdbc, JsonIngest, TypeMatrix}

/** Source/sink surface exercised end-to-end (SURVEY §2.1): the
  * migration pipeline's interchange round-trip — export to the
  * reference's CSV dialect ('^' delimiter, literal NULL), land in an
  * all-string staging, typed-promote through the §1.2 matrix, then
  * aggregate. The oracle aggregates the original parquet directly, so
  * the query proves the text round-trip is lossless.
  */
object SourceQueries {

  def all: Seq[Q] = Seq(csvRoundtrip, jdbcRoundtrip, fixedWidthRoundtrip,
    xmlRoundtrip, jsonlRoundtrip, xlsxRoundtrip, statsSkipping, zorderSkipping,
    formatRead, sqlCatalog, sqlDelete, sqlMerge, statsAgg, spjJoin,
    bucketJoin, spjPartial, bucketDml, bucketMc, morDelete, morUpdate,
    morMerge, morChanges, nullSkipping, sqlMor, relayout, defaults)

  /** COMPOSITE bucket keys (`bucket(8, o_custkey, o_orderstatus)` —
    * the multi-column PK shape of the reference's migration scripts):
    * orders lands hashed on BOTH columns, then a full-key equality
    * DELETE runs — and the query REQUIREs that static candidate
    * enumeration pruned the rewrite to ONE bucket group (the
    * cross-product hash bound) — followed by a scattered modulo
    * UPDATE across all buckets. The oracle replays both over the raw
    * parquet, so equality proves multi-column placement parity
    * (write path, CoW rewrite, and pruning all fold the same
    * murmur3(c1, c2)) end to end. The storage-partitioned JOIN
    * contract stays single-column (Spark 4.1's KeyGroupedPartitioning
    * accepts only single-argument transforms); composite layouts buy
    * placement, pruning, and clustered DML.
    */
  val bucketMc: Q = Q(
    "q_bucket_mc",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(CASE WHEN o_custkey % 10 = 1
      |      THEN o_totalprice + 1 ELSE o_totalprice END * 100) AS BIGINT))
      |    AS BIGINT) AS price_cents
      |FROM orders
      |WHERE NOT (o_custkey = 371 AND o_orderstatus = 'O')
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.land(s, "mc", dir)(("orders",
      "bucket(8, o_custkey, o_orderstatus)", Tables.orders(s, dir)))
    val root = wh.tableRoot("orders")
    val before = graft.sources.TxTable.currentSnapshot(s, root).get
    s.sql(
      """DELETE FROM wh_mc.mart.orders
        |WHERE o_custkey = 371 AND o_orderstatus = 'O'""".stripMargin)
    val afterDel = graft.sources.TxTable.currentSnapshot(s, root).get
    // the point: a full-key DELETE rewrites exactly one bucket group
    val replaced = before.entries.map(_.relPath).toSet --
      afterDel.entries.map(_.relPath).toSet
    val replacedParts = before.entries
      .filter(e => replaced.contains(e.relPath)).map(_.partition).toSet
    require(replacedParts.size <= 1,
      s"q_bucket_mc: composite-key DELETE must prune the rewrite to " +
        s"one bucket group, replaced: $replacedParts")
    s.sql(
      """UPDATE wh_mc.mart.orders SET o_totalprice = o_totalprice + 1
        |WHERE o_custkey % 10 = 1""".stripMargin)
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** MERGE-ON-READ DELETE ([[graft.sources.MergeOnRead]]): orders
    * lands as bucket(8, o_orderkey), then a DELETE whose keys scatter
    * across EVERY bucket (a customer-key modulo — uncorrelated with
    * the bucket key) runs as `CALL delete_where`. Copy-on-write would
    * rewrite the whole table here; the merge-on-read leg commits one
    * position-delete file instead, and the query REQUIREs exactly
    * that: the data file set is byte-identical after the DELETE (write
    * bytes ∝ deleted rows — the 100 TB scattered-DML shape). The
    * oracle replays the delete as a WHERE over the raw parquet, so
    * equality proves the position capture, the manifest DV commit, and
    * the read-side anti-join are lossless.
    */
  val morDelete: Q = Q(
    "q_mor_delete",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM orders
      |WHERE o_custkey % 13 <> 0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.land(s, "mor", dir)(
      ("orders", "bucket(8, o_orderkey)", Tables.orders(s, dir)))
    val (_, w) = Fixtures.writeShape(s, wh.tableRoot("orders"))(s.sql(
      "CALL wh_mor.system.delete_where('mart.orders', 'o_custkey % 13 = 0')"))
    // the point of the query: scattered-key DELETE, ZERO data rewrite
    require(w.unchanged,
      "q_mor_delete: merge-on-read DELETE must leave every data file " +
        "byte-identical")
    require(w.after.dvs.nonEmpty && w.masked > 0,
      "q_mor_delete: expected a committed position-delete file")
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** MERGE-ON-READ UPDATE ([[graft.sources.MergeOnRead.updateWhere]]
    * via `CALL update_where`): orders lands as bucket(8, o_orderkey),
    * then an UPDATE whose keys scatter across every bucket (custkey
    * modulo — uncorrelated with the bucket key) commits ONE
    * position-delete file masking the old images plus new data files
    * carrying the post-images. The query REQUIREs the scattered-UPDATE
    * cost shape: every original data file byte-identical, appended
    * rows == masked rows == matched rows. The oracle replays the
    * update as a CASE projection over the raw parquet, so equality
    * proves position masking, simultaneous-assignment semantics, and
    * the read-side merge are lossless.
    */
  val morUpdate: Q = Q(
    "q_mor_update",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round((CASE WHEN o_custkey % 11 = 4
      |    THEN o_totalprice * 2 ELSE o_totalprice END) * 100)
      |    AS BIGINT)) AS BIGINT) AS price_cents
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.land(s, "moru", dir)(
      ("orders", "bucket(8, o_orderkey)", Tables.orders(s, dir)))
    val (res, w) = Fixtures.writeShape(s, wh.tableRoot("orders"))(s.sql(
      """CALL wh_moru.system.update_where('mart.orders', 'o_custkey % 11 = 4',
        |  'o_totalprice = o_totalprice * 2')""".stripMargin).head())
    // the point of the query: scattered-key UPDATE, write ∝ updated
    // rows — original files untouched, appends == masks == matches
    require(w.untouched,
      "q_mor_update: merge-on-read UPDATE must leave original data " +
        "files byte-identical")
    val (masked, appended) = (w.masked, w.appended)
    require(masked > 0 && masked == res.getLong(1) && appended == masked,
      s"q_mor_update: expected appends == masks == matches, got " +
        s"masked=$masked appended=$appended matched=${res.getLong(1)}")
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** MERGE-ON-READ MERGE ([[graft.sources.MergeOnRead.mergeInto]] via
    * `CALL merge_into`): orders lands as bucket(8, o_orderkey), then a
    * three-clause merge runs against a change set whose keys scatter
    * across every bucket (custkey modulos — uncorrelated with the
    * bucket key): doubled-price updates (custkey%7=2), deletes
    * (custkey%7=3, a `src.op` flag driving WHEN MATCHED ... DELETE),
    * and brand-new orders (custkey%7=5, keys shifted past the domain).
    * The query REQUIREs the scattered-MERGE cost shape — every
    * original data file byte-identical, masks == updates + deletes,
    * appends == updates + inserts — in ONE commit. The oracle replays
    * all three clauses as set algebra over the raw parquet, so
    * equality proves position masking, the `src`-struct set clause,
    * name-bound inserts, and the read-side merge are lossless.
    */
  val morMerge: Q = Q(
    "q_mor_merge",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_custkey % 7 = 2 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_custkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice + 10 AS o_totalprice
      |  FROM orders WHERE o_custkey % 7 = 5
      |) t
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
    val wh = Fixtures.land(s, "morm", dir)(
      ("orders", "bucket(8, o_orderkey)", base))
    val upd = base.filter(col("o_custkey") % 7 === 2)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("op", lit("U"))
    val del = base.filter(col("o_custkey") % 7 === 3)
      .withColumn("op", lit("D"))
    val ins = base.filter(col("o_custkey") % 7 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + 600000000L)
      .withColumn("o_totalprice", col("o_totalprice") + 10)
      .withColumn("op", lit("I"))
    upd.unionByName(del).unionByName(ins)
      .createOrReplaceTempView("graft_morm_changes")
    val (res, w) = Fixtures.writeShape(s, wh.tableRoot("orders"))(s.sql(
      """CALL wh_morm.system.merge_into('mart.orders', 'graft_morm_changes',
        |  'o_orderkey', 'o_totalprice = src.o_totalprice',
        |  'src.op = ''D''', true)""".stripMargin).head())
    // the point of the query: scattered-key MERGE, write ∝ changed
    // rows — original files untouched, masks == upd + del,
    // appends == upd + ins, all in ONE commit
    require(w.untouched,
      "q_mor_merge: merge-on-read MERGE must leave original data " +
        "files byte-identical")
    val (nUpd, nDel, nIns) = (res.getLong(1), res.getLong(2), res.getLong(3))
    val (masked, appended) = (w.masked, w.appended)
    require(nUpd > 0 && nDel > 0 && nIns > 0,
      s"q_mor_merge: expected all three clauses to fire, got " +
        s"upd=$nUpd del=$nDel ins=$nIns")
    require(masked == nUpd + nDel && appended == nUpd + nIns,
      s"q_mor_merge: expected masks == upd + del and appends == " +
        s"upd + ins, got masked=$masked appended=$appended " +
        s"upd=$nUpd del=$nDel ins=$nIns")
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** Outbound CDC across a merge-on-read version
    * ([[graft.sources.ChangeFeed]] + [[graft.sources.MergeOnRead]]):
    * customer snapshots as a transactional table, a scattered DELETE
    * commits as a position-delete file (no data file changes), and the
    * change feed between the two versions must surface exactly the
    * deleted rows as `_op = 'delete'` — derived from the DV DELTA, not
    * a manifest file diff (there is none). The oracle selects the same
    * rows from the raw parquet, so equality proves the position→row
    * reconstruction is lossless.
    */
  val morChanges: Q = Q(
    "q_mor_changes",
    """SELECT c_custkey, c_acctbal, 'delete' AS _op
      |FROM customer WHERE c_custkey % 10 = 3
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    import graft.sources.{ChangeFeed, MergeOnRead, TxTable}
    val root = Fixtures.path("mor_cf", dir)
    val base = Tables.customer(s, dir).select("c_custkey", "c_acctbal")
    TxTable.create(base, root, None)                        // v0
    MergeOnRead.deleteWhere(s, root, col("c_custkey") % 10 === 3) // v1
    ChangeFeed.between(s, root, 0L, 1L, Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Null-count file skipping ([[graft.sources.FileStats]] `IS NULL`
    * pruning): orders lands clustered so that one slice carries every
    * null-comment row (a synthetic nullable column: comment nulled for
    * high keys), then an `IS NULL` aggregate runs — and the query
    * REQUIREs that the scan listed FEWER files than the table holds
    * (per-column null counts prove all-null/no-null files skip). The
    * oracle computes the same aggregate in DuckDB, so equality proves
    * null-aware pruning never drops a matching row.
    */
  val nullSkipping: Q = Q(
    "q_null_skipping",
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
    import graft.sources.TxTable
    val root = Fixtures.path("null_skip", dir)
    // even keys: provably non-null column; odd keys: all-null — two
    // appends, so every file is uniformly one or the other
    val orders = Tables.orders(s, dir)
    val nonNull = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        concat(lit("c"), col("o_orderkey")).as("maybe_comment"))
    val allNull = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), lit(null).cast("string").as("maybe_comment"))
    TxTable.create(nonNull, root, None)
    TxTable.append(allNull, root, None)
    val snap = TxTable.currentSnapshot(s, root).get
    // per-file null counts prove skipping in BOTH directions
    val isNullFiles = TxTable.statsPrune(s, snap, col("maybe_comment").isNull)
    require(isNullFiles.size < snap.entries.size,
      s"q_null_skipping: IS NULL must skip the zero-null files " +
        s"(${isNullFiles.size}/${snap.entries.size} listed)")
    val notNullFiles =
      TxTable.statsPrune(s, snap, col("maybe_comment").isNotNull)
    require(notNullFiles.size < snap.entries.size,
      s"q_null_skipping: IS NOT NULL must skip the all-null files " +
        s"(${notNullFiles.size}/${snap.entries.size} listed)")
    TxTable.readWhere(s, root, col("maybe_comment").isNull)
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("bigint").as("key_sum"))
  }

  /** PARTITION EVOLUTION (`CALL relayout`, [[graft.sources.TxTable
    * .rewriteAll]]'s `newLayout`): orders lands as bucket(4,
    * o_orderkey), grows to bucket(16) in ONE commit, then a
    * bucket-key point DELETE and a scattered modulo UPDATE run over
    * the NEW layout. The query REQUIREs the evolution contract —
    * the relayout is one version, the manifest records the new spec
    * while the pre-relayout version keeps binding its own, the point
    * DELETE's rewrite touches exactly one of the 16 new groups, and
    * time travel to the pre-relayout version still reads in full.
    * The oracle replays both mutations over the raw parquet, so
    * equality proves the re-placement is lossless and the new
    * modulus prunes correctly end to end.
    */
  val relayout: Q = Q(
    "q_relayout",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(CASE WHEN o_custkey % 10 = 3
      |      THEN o_totalprice + 5 ELSE o_totalprice END * 100) AS BIGINT))
      |    AS BIGINT) AS price_cents
      |FROM orders
      |WHERE o_orderkey <> 1
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.land(s, "rel", dir)(
      ("orders", "bucket(4, o_orderkey)", Tables.orders(s, dir)))
    val root = wh.tableRoot("orders")
    import graft.sources.TxTable
    val vPre = TxTable.currentVersion(s, root).get
    val nRows = Tables.orders(s, dir).count()
    s.sql("CALL wh_rel.system.relayout('mart.orders', 'bucket(16, o_orderkey)')")
    val snap = TxTable.currentSnapshot(s, root).get
    require(snap.version == vPre + 1 &&
      snap.layout.contains("bucket(16,o_orderkey)"),
      s"q_relayout: expected one commit recording the new spec, got " +
        s"v${snap.version} layout=${snap.layout}")
    require(TxTable.readVersion(s, root, vPre).count() == nRows,
      "q_relayout: the pre-relayout version must stay readable in full")
    s.sql("DELETE FROM wh_rel.mart.orders WHERE o_orderkey = 1")
    val afterDel = TxTable.currentSnapshot(s, root).get
    val survived = afterDel.entries.map(_.relPath).toSet
    val replacedParts = snap.entries
      .filterNot(e => survived.contains(e.relPath))
      .map(_.partition).toSet
    require(replacedParts.size <= 1,
      s"q_relayout: a point DELETE after relayout must rewrite at most " +
        s"one of the 16 new groups, touched: $replacedParts")
    s.sql(
      """UPDATE wh_rel.mart.orders SET o_totalprice = o_totalprice + 5
        |WHERE o_custkey % 10 = 3""".stripMargin)
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** COLUMN DEFAULT VALUES end-to-end (`SUPPORT_COLUMN_DEFAULT_VALUE`
    * over the manifest's metadata-capable `#schemaJson=` form): a
    * bucket table declares two defaulted columns, partial-column
    * INSERTs fill them across THREE default epochs — the creation
    * defaults, then `ALTER COLUMN SET DEFAULT` changes one
    * mid-stream (a versioned metadata-only commit) for the last
    * third. The query REQUIREs the representation contract (the DDL
    * schema form stays metadata-free/parseable; the JSON form
    * carries CURRENT_DEFAULT; the ALTER is one commit) and the
    * oracle replays the three epochs as constants over the raw
    * parquet — equality proves default persistence, INSERT
    * resolution, and epoch boundaries are exact.
    */
  val defaults: Q = Q(
    "q_defaults",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(adj * 100) AS BIGINT)) AS BIGINT) AS adj_cents
      |FROM (
      |  SELECT 'X' AS o_orderstatus, 2.5 AS adj FROM orders
      |  WHERE o_custkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice AS adj FROM orders
      |  WHERE o_custkey % 3 = 1
      |  UNION ALL
      |  SELECT 'X' AS o_orderstatus, 4.0 AS adj FROM orders
      |  WHERE o_custkey % 3 = 2
      |) t
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.warehouse(s, "def", dir)
    s.sql("DROP TABLE IF EXISTS wh_def.mart.orders")
    Tables.orders(s, dir).createOrReplaceTempView("graft_def_src")
    s.sql(
      """CREATE TABLE wh_def.mart.orders (
        |  o_orderkey BIGINT,
        |  o_orderstatus STRING DEFAULT 'X',
        |  adj DOUBLE DEFAULT 2.5)
        |PARTITIONED BY (bucket(8, o_orderkey))""".stripMargin)
    val root = wh.tableRoot("orders")
    import graft.sources.TxTable
    val snap0 = TxTable.currentSnapshot(s, root).get
    require(!snap0.schemaDdl.contains("DEFAULT"),
      s"q_defaults: the DDL schema form must stay metadata-free, " +
        s"got ${snap0.schemaDdl}")
    require(snap0.schemaJson.exists(_.contains("CURRENT_DEFAULT")),
      "q_defaults: the JSON schema form must carry the defaults")
    s.sql(
      """INSERT INTO wh_def.mart.orders (o_orderkey)
        |SELECT o_orderkey FROM graft_def_src WHERE o_custkey % 3 = 0"""
        .stripMargin)
    s.sql(
      """INSERT INTO wh_def.mart.orders
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_def_src WHERE o_custkey % 3 = 1""".stripMargin)
    val vPre = TxTable.currentVersion(s, root).get
    s.sql("ALTER TABLE wh_def.mart.orders ALTER COLUMN adj SET DEFAULT 4.0")
    require(TxTable.currentVersion(s, root).contains(vPre + 1),
      "q_defaults: SET DEFAULT must be ONE metadata commit")
    s.sql(
      """INSERT INTO wh_def.mart.orders (o_orderkey)
        |SELECT o_orderkey FROM graft_def_src WHERE o_custkey % 3 = 2"""
        .stripMargin)
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(adj * 100) AS BIGINT)) AS BIGINT) AS adj_cents
        |FROM wh_def.mart.orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  /** PLAIN SQL DML under merge-on-read mode
    * ([[graft.sources.GraftDeltaOperation]],
    * `spark.graft.dml.mode=mor`): orders lands as bucket(8,
    * o_orderkey), then two statements of ordinary SQL text run — a
    * three-clause `MERGE INTO` (doubled-price updates at custkey%7=2,
    * deletes at %7=3, shifted-key inserts at %7=5) and a scattered
    * `DELETE` (custkey%7=4) composing on the merge's fresh delete
    * vectors. Spark plans its delta-based rewrite (`WriteDelta` over
    * the `_file`/`_pos` row lineage), and the query REQUIREs the
    * scattered-DML cost shape: every original data file
    * byte-identical across BOTH statements, masks == merge updates +
    * merge deletes + delete matches, appends == merge updates +
    * merge inserts — write ∝ changed rows through nothing but SQL.
    * The oracle replays all four mutations as set algebra over the
    * raw parquet, so equality proves the delta plan, position
    * masking, layout placement, and the read-side merge are lossless.
    */
  val sqlMor: Q = Q(
    "q_sql_mor",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM (
      |  SELECT o_orderstatus, o_custkey,
      |    CASE WHEN o_custkey % 7 = 2 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_custkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderstatus, o_custkey, o_totalprice + 10 AS o_totalprice
      |  FROM orders WHERE o_custkey % 7 = 5
      |) t
      |WHERE o_custkey % 7 <> 4
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
    val wh = Fixtures.land(s, "sqlmor", dir)(
      ("orders", "bucket(8, o_orderkey)", base))
    val upd = base.filter(col("o_custkey") % 7 === 2)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("op", lit("U"))
    val del = base.filter(col("o_custkey") % 7 === 3)
      .withColumn("op", lit("D"))
    val ins = base.filter(col("o_custkey") % 7 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + 600000000L)
      .withColumn("o_totalprice", col("o_totalprice") + 10)
      .withColumn("op", lit("I"))
    upd.unionByName(del).unionByName(ins)
      .createOrReplaceTempView("graft_sqlmor_changes")
    val (nUpd, nDel, nIns, nDel2) = (
      base.filter(col("o_custkey") % 7 === 2).count(),
      base.filter(col("o_custkey") % 7 === 3).count(),
      base.filter(col("o_custkey") % 7 === 5).count(),
      base.filter(col("o_custkey") % 7 === 4).count())
    val cols = base.columns
    val (_, w) = Fixtures.writeShape(s, wh.tableRoot("orders")) {
      Session.withConf(s, graft.sources.DeltaDml.ModeKey -> "mor") {
        s.sql(
          s"""MERGE INTO wh_sqlmor.mart.orders t USING graft_sqlmor_changes s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
             |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
             |  VALUES (${cols.map(c => s"s.$c").mkString(", ")})"""
            .stripMargin)
        s.sql("DELETE FROM wh_sqlmor.mart.orders WHERE o_custkey % 7 = 4")
      }
    }
    // the point of the query: scattered SQL DML, write ∝ changed rows
    require(w.untouched,
      "q_sql_mor: merge-on-read SQL DML must leave original data " +
        "files byte-identical")
    val (masked, appended) = (w.masked, w.appended)
    require(masked == nUpd + nDel + nDel2 && appended == nUpd + nIns,
      s"q_sql_mor: expected masks == upd + del + del2 and appends == " +
        s"upd + ins, got masked=$masked appended=$appended " +
        s"upd=$nUpd del=$nDel ins=$nIns del2=$nDel2")
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** SQL row-level operations end-to-end ([[graft.sources.GraftRowLevelOperation]]):
    * orders lands partitioned by priority, then three mutations run as
    * SQL text — a partition-predicate DELETE (metadata-only commit,
    * zero data movement), a row-predicate DELETE (partition-granularity
    * copy-on-write, runtime group filter picks the touched partitions),
    * and a partition-scoped UPDATE (static partition conjunct prunes
    * the rewrite to one partition). The oracle replays the same
    * mutations as a WHERE + CASE over the raw parquet, so equality
    * proves the whole DELETE/UPDATE pipeline — rewrite plan, group
    * pruning, executor parquet write, manifest swap — is lossless.
    */
  val sqlDelete: Q = Q(
    "q_sql_delete",
    """SELECT o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(CASE WHEN o_orderstatus = 'F'
      |      AND o_orderpriority = '5-LOW' THEN 0.0
      |    ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS price_cents
      |FROM orders
      |WHERE o_orderpriority <> '1-URGENT' AND o_custkey % 10 <> 0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Fixtures.land(s, "rl", dir)(
      ("orders", "o_orderpriority", Tables.orders(s, dir)))
    s.sql("DELETE FROM wh_rl.mart.orders WHERE o_orderpriority = '1-URGENT'")
    s.sql("DELETE FROM wh_rl.mart.orders WHERE o_custkey % 10 = 0")
    s.sql(
      """UPDATE wh_rl.mart.orders SET o_totalprice = 0.0
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '5-LOW'"""
        .stripMargin)
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM wh_rl.mart.orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** SQL MERGE INTO with all three clause kinds in one statement —
    * the reference's staged-CDC MERGE pattern as a single transactional
    * commit: matched+guard → DELETE, matched → UPDATE, not-matched →
    * INSERT. The oracle reconstructs the post-MERGE table from the raw
    * parquet with WHERE/CASE/UNION, so equality proves clause routing,
    * the copy-on-write union plan, and the atomic partition swap all
    * preserve row-level semantics.
    */
  val sqlMerge: Q = Q(
    "q_sql_merge",
    """SELECT n_nationkey, n_name, n_regionkey FROM (
      |  SELECT n_nationkey,
      |         CASE WHEN n_nationkey < 10 THEN lower(n_name)
      |              ELSE n_name END AS n_name,
      |         n_regionkey
      |  FROM nation WHERE n_nationkey < 20
      |  UNION ALL
      |  SELECT n_nationkey + 100 AS n_nationkey,
      |         'new_' || n_name AS n_name,
      |         CAST(-1 AS INTEGER) AS n_regionkey
      |  FROM nation WHERE n_nationkey < 5
      |) ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val nation = Tables.nation(s, dir)
    nation.createOrReplaceTempView("graft_nat_src")
    Fixtures.land(s, "mg", dir)(("nation", "",
      nation.select("n_nationkey", "n_name", "n_regionkey")))
    s.sql(
      """CREATE OR REPLACE TEMP VIEW graft_merge_src AS
        |SELECT n_nationkey AS k, lower(n_name) AS nm
        |FROM graft_nat_src WHERE n_nationkey < 10
        |UNION ALL
        |SELECT n_nationkey, CAST(NULL AS STRING)
        |FROM graft_nat_src WHERE n_nationkey >= 20
        |UNION ALL
        |SELECT n_nationkey + 100, concat('new_', n_name)
        |FROM graft_nat_src WHERE n_nationkey < 5""".stripMargin)
    s.sql(
      """MERGE INTO wh_mg.mart.nation t USING graft_merge_src s
        |ON t.n_nationkey = s.k
        |WHEN MATCHED AND s.k >= 20 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_name = s.nm
        |WHEN NOT MATCHED THEN
        |  INSERT (n_nationkey, n_name, n_regionkey) VALUES (s.k, s.nm, -1)"""
        .stripMargin)
    s.sql(
      """SELECT n_nationkey, n_name, n_regionkey FROM wh_mg.mart.nation
        |ORDER BY n_nationkey""".stripMargin)
  }

  /** Row-level DML on a BUCKET-layout table (round 7 — previously an
    * honest refusal): orders lands as bucket(8, o_orderkey) via CTAS,
    * then a modulo DELETE (copy-on-write across the touched buckets,
    * runtime group filter maps matching keys → bucket ids), a
    * key-equality DELETE (candidate enumeration prunes the rewrite to
    * ONE bucket statically), and a modulo UPDATE run as SQL text. The
    * oracle replays all three over the raw parquet, so equality proves
    * bucket-group pruning, the murmur3 placement parity between
    * rewrite and append, and the manifest swap are lossless.
    */
  val bucketDml: Q = Q(
    "q_bucket_dml",
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(CASE WHEN o_orderkey % 1000 = 1
      |      THEN o_totalprice * 2 ELSE o_totalprice END * 100) AS BIGINT))
      |    AS BIGINT) AS price_cents
      |FROM orders
      |WHERE o_orderkey % 100 <> 7 AND o_orderkey <> 32
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    val wh = Fixtures.land(s, "bd", dir)(
      ("orders", "bucket(8, o_orderkey)", Tables.orders(s, dir)))
    s.sql("DELETE FROM wh_bd.mart.orders WHERE o_orderkey % 100 = 7")
    s.sql("DELETE FROM wh_bd.mart.orders WHERE o_orderkey = 32")
    s.sql(
      """UPDATE wh_bd.mart.orders SET o_totalprice = o_totalprice * 2
        |WHERE o_orderkey % 1000 = 1""".stripMargin)
    Fixtures.statusSummary(s, wh.table("orders"))
  }

  /** Manifest-stats aggregate pushdown end-to-end
    * ([[graft.sources.StatsAgg]]): orders lands partitioned by
    * priority via CTAS, then an unfiltered
    * COUNT/MIN/MAX-grouped-by-partition aggregate runs in SQL — and
    * the query REQUIREs that it planned as a LocalTableScan (manifest
    * metadata only, zero parquet files opened; the 100 TB shape for
    * the profiling aggregates a pipeline runs constantly). The oracle
    * computes the same aggregate from the raw parquet in DuckDB, so
    * equality proves the stats-only answers — long/double/timestamp/
    * short-string bounds, null-aware counts, per-partition grouping —
    * are EXACT, not approximations.
    */
  val statsAgg: Q = Q(
    "q_stats_agg",
    """SELECT o_orderpriority, COUNT(*) AS n_rows, COUNT(o_custkey) AS n_cust,
      |  MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
      |  MIN(o_totalprice) AS mn_price, MAX(o_totalprice) AS mx_price,
      |  MIN(o_orderdate) AS mn_date, MAX(o_orderdate) AS mx_date,
      |  MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    // INT64-micros timestamps: INT96 (the legacy default) has no
    // footer bounds, and this engine's layout wants stats everywhere
    Session.withConf(s,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(
      Fixtures.land(s, "sa", dir)(
        ("orders", "o_orderpriority", Tables.orders(s, dir))))
    val out = s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_rows, COUNT(o_custkey) AS n_cust,
        |  MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
        |  MIN(o_totalprice) AS mn_price, MAX(o_totalprice) AS mx_price,
        |  MIN(o_orderdate) AS mn_date, MAX(o_orderdate) AS mx_date,
        |  MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st
        |FROM wh_sa.mart.orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
    // the point of the query: it must have planned METADATA-ONLY
    val leaves = out.queryExecution.executedPlan.collectLeaves().flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectLeaves()
      case l => Seq(l)
    }
    require(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      s"q_stats_agg did not plan as a manifest-stats LocalTableScan:\n" +
        out.queryExecution.executedPlan)
    out
  }

  /** Storage-partitioned join end-to-end ([[graft.sources.KeyedLayout]]
    * + the keyed scan): orders splits into even/odd-orderkey halves,
    * both CTAS'd partitioned by priority, then the halves join on
    * (priority, custkey) under `spark.sql.sources.v2.bucketing.enabled`
    * — and the query REQUIREs the join planned with ZERO shuffle
    * exchanges (each side scans one split per partition value and
    * Spark zips matching key groups; at 100 TB this is the difference
    * between a cluster-wide exchange of both fact tables and a local
    * per-partition join). The oracle replays the same self-join in
    * DuckDB over the raw parquet, so equality proves the shuffle-free
    * plan computes the exact join.
    */
  val spjJoin: Q = Q(
    "q_spj_join",
    """SELECT a.o_orderpriority, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(round((a.o_totalprice + b.o_totalprice) * 100)
      |    AS BIGINT)) AS BIGINT) AS pair_cents
      |FROM orders a JOIN orders b
      |  ON a.o_orderpriority = b.o_orderpriority
      |  AND a.o_custkey = b.o_custkey
      |WHERE a.o_orderkey % 2 = 0 AND b.o_orderkey % 2 = 1
      |GROUP BY a.o_orderpriority
      |ORDER BY a.o_orderpriority""".stripMargin) { (s, dir) =>
    val orders = Tables.orders(s, dir)
    Fixtures.land(s, "sj", dir)(
      ("even", "o_orderpriority", orders.filter(col("o_orderkey") % 2 === 0)),
      ("odd", "o_orderpriority", orders.filter(col("o_orderkey") % 2 === 1)))
    Session.withConf(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val out = s.sql(
        """SELECT a.o_orderpriority, COUNT(*) AS n_pairs,
          |  CAST(SUM(CAST(round((a.o_totalprice + b.o_totalprice) * 100)
          |    AS BIGINT)) AS BIGINT) AS pair_cents
          |FROM wh_sj.mart.even a JOIN wh_sj.mart.odd b
          |  ON a.o_orderpriority = b.o_orderpriority
          |  AND a.o_custkey = b.o_custkey
          |GROUP BY a.o_orderpriority
          |ORDER BY a.o_orderpriority""".stripMargin)
      // the point of the query: the JOIN must plan shuffle-free (the
      // final ORDER BY's range exchange above the 5-row aggregate is
      // the only one allowed)
      val ex = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      require(ex.size <= 1,
        s"q_spj_join expected a storage-partitioned join, got:\n" +
          out.queryExecution.executedPlan)
      out
    }
  }

  /** Bucket-layout storage-partitioned join end-to-end
    * ([[graft.sources.Layout]] bucket spec + [[graft.sources.GraftBucketFunction]]):
    * customer and orders land co-bucketed with `PARTITIONED BY
    * (bucket(8, custkey))` — the layout for join keys too
    * high-cardinality to partition by value — then join on the raw
    * custkey. The query REQUIREs that NO shuffle exchange sits below
    * the join (both sides scan one split per bucket and Spark zips
    * equal bucket ids; the only exchanges allowed are the post-join
    * aggregation's). The oracle replays the join+aggregate over the
    * raw parquet in DuckDB, so equality proves the write-side bucket
    * function and the planner's bucket matching agree row-for-row.
    */
  val bucketJoin: Q = Q(
    "q_bucket_join",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    Fixtures.land(s, "bk", dir)(
      ("customer", "bucket(8, c_custkey)", Tables.customer(s, dir)),
      ("orders", "bucket(8, o_custkey)", Tables.orders(s, dir)))
    Session.withConf(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val out = s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |    AS rev_cents
          |FROM wh_bk.mart.customer JOIN wh_bk.mart.orders
          |  ON c_custkey = o_custkey
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
      // the point of the query: the JOIN subtree must be shuffle-free
      // (the aggregation above it may exchange)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledJoin}
      val joins = out.queryExecution.executedPlan.collect {
        case j: BaseJoinExec => j
      }
      require(joins.nonEmpty &&
        joins.forall(_.collect { case e: ShuffleExchangeLike => e }.isEmpty),
        s"q_bucket_join expected a shuffle-free co-bucketed join:\n" +
          out.queryExecution.executedPlan)
      out
    }
  }

  /** Skewed-bucket SPJ under PARTIALLY-CLUSTERED distribution
    * ([[org.apache.spark.sql.graft.GraftKeyedScan]] per-file splits +
    * Spark's `partiallyClusteredDistribution`): the fact lands
    * bucket(8, k) with every even custkey collapsed onto ONE key
    * (≈half the rows in one bucket), written in four commits so the
    * hot bucket holds 4 files. Fully-clustered SPJ would serialize
    * that bucket through one task (AQE cannot split a key-grouped
    * partition — the inherent straggler at 100 TB); with the partial
    * conf the hot bucket's files run as separate tasks and the dim's
    * matching groups replicate. The query REQUIREs BOTH halves: the
    * join plans with zero shuffles AND its task count exceeds the
    * live bucket-group count (the straggler actually split). The
    * oracle replays the skewed join over raw parquet in DuckDB, so
    * equality proves the replicated-dim join computes the exact rows.
    */
  val spjPartial: Q = Q(
    "q_spj_partial",
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(f.v * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM customer JOIN (
      |  SELECT CASE WHEN o_custkey % 2 = 0 THEN 7 ELSE o_custkey END AS k,
      |         o_totalprice AS v
      |  FROM orders) f ON c_custkey = f.k
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir).createOrReplaceTempView("graft_pc_ord")
    def slice(i: Int) =
      s"""SELECT CASE WHEN o_custkey % 2 = 0 THEN CAST(7 AS BIGINT)
         |         ELSE o_custkey END AS k,
         |       o_totalprice AS v
         |FROM graft_pc_ord WHERE o_orderkey % 4 = $i""".stripMargin
    val wh = Fixtures.land(s, "pc", dir)(
      ("fact", "bucket(8, k)", s.sql(slice(0))),
      ("dim", "bucket(8, c_custkey)",
        Tables.customer(s, dir).select("c_custkey", "c_mktsegment")))
    (1 until 4).foreach(i => s.sql(s"INSERT INTO wh_pc.mart.fact ${slice(i)}"))
    Session.withConf(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val out = s.sql(
        """SELECT d.c_mktsegment, COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(round(f.v * 100) AS BIGINT)) AS BIGINT)
          |    AS rev_cents
          |FROM wh_pc.mart.fact f JOIN wh_pc.mart.dim d ON f.k = d.c_custkey
          |GROUP BY d.c_mktsegment
          |ORDER BY d.c_mktsegment""".stripMargin)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val joins = out.queryExecution.executedPlan.collect {
        case j: BaseJoinExec => j
      }
      require(joins.nonEmpty &&
        joins.forall(_.collect { case e: ShuffleExchangeLike => e }.isEmpty),
        s"q_spj_partial expected a shuffle-free co-bucketed join:\n" +
          out.queryExecution.executedPlan)
      val groups = graft.sources.TxTable
        .currentSnapshot(s, wh.tableRoot("fact")).get
        .entries.map(_.partition).distinct.size
      val joinParts = joins.head.execute().getNumPartitions
      require(joinParts > groups,
        s"q_spj_partial expected the hot bucket split across tasks " +
          s"(join tasks $joinParts <= bucket groups $groups)")
      // materialize inside the conf scope: split grouping re-reads
      // session confs at execution time
      val rows = out.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** The DSv2 catalog surface end-to-end in SQL TEXT
    * ([[graft.sources.GraftCatalog]]): lineitem lands in a graft table
    * via `CREATE TABLE … AS SELECT` against the registered catalog,
    * then the aggregate runs against `wh_q.mart.lineitem` — planning
    * through the manifest-backed DSv2 parquet scan (predicate pushed,
    * files stats-pruned, vectorized read). The oracle runs the SAME
    * aggregate over the raw parquet in DuckDB, so equality proves the
    * catalog's CTAS write path and SQL read path are both lossless.
    */
  val sqlCatalog: Q = Q(
    "q_sql_catalog",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Fixtures.land(s, "q", dir)(("lineitem", "", Tables.lineitem(s, dir)))
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM wh_q.mart.lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** S6 Excel: customer exports as sharded .xlsx workbooks (one per
    * partition — the parallel-export shape), reads back through the
    * pure-JDK SpreadsheetML parser into the all-string staging, typed-
    * promotes, then aggregates; the oracle aggregates the original
    * parquet — equality proves the .xlsx round-trip lossless across
    * native number cells, inline strings, and NULLs-as-omitted-cells
    * (the `note` column NULLs every 7th key on BOTH sides, so the
    * count only matches if omitted cells read back as NULL, not "").
    */
  val xlsxRoundtrip: Q = Q(
    "q_xlsx_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n_c,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents,
      |  COUNT(CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END) AS n_notes
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val out = Fixtures.path("xlsxrt", dir)
    val target = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("note", StringType)))
    graft.sources.Xlsx.writeSharded(
      Tables.customer(s, dir)
        .withColumn("note",
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_name")))
        .select(target.fieldNames.map(col): _*)
        // 1-row-group parquet scans as ONE partition; spread so the
        // workbook serialization writes shards from all cores
        // (hashed by the unique key: skips sort-before-repartition)
        .repartition(s.sparkContext.defaultParallelism, col("c_custkey")),
      out)
    val (good, bad) = CsvIngest.splitCorrupt(
      graft.sources.Xlsx.readStaging(s, out, target), runId = "xlsxrt")
    CsvIngest.enforceBudget(good.count(), bad.count())
    val (typed, _) = CsvIngest.promote(good, target, runId = "xlsxrt")
    typed.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_c"),
        sum(round(col("c_acctbal") * 100).cast("bigint")).as("bal_cents"),
        count(col("note")).as("n_notes"))
      .orderBy(col("c_mktsegment"))
  }

  /** The `format("graft")` surface end-to-end ([[graft.sources.GraftSource]]):
    * lineitem lands range-clustered in a transactional table through
    * the standard `DataFrameWriter`, is registered as a plain SQL view
    * (`CREATE TEMP VIEW … USING graft`), and the query is pure SQL
    * text — the optimizer pushes the WHERE into [[graft.sources.GraftFileIndex]],
    * which REQUIREs that manifest stats actually skipped files at
    * planning time. The oracle runs the same SQL over the raw parquet,
    * so equality proves the whole format stack (writer commit →
    * manifest → planner pruning → vectorized scan) is lossless.
    */
  val formatRead: Q = Q(
    "q_format_read",
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 2000 AND 4000 AND l_discount >= 0.05
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_discount"),
        col("l_extendedprice"), col("l_returnflag"))
    val root = Fixtures.path("fmtq", dir)
    li.repartitionByRange(8, col("l_orderkey"))
      .write.format("graft").mode("overwrite").save(root)
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW fmt_lineitem USING graft " +
      s"OPTIONS (path '$root')")
    val sql =
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM fmt_lineitem
        |WHERE l_orderkey BETWEEN 2000 AND 4000 AND l_discount >= 0.05
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    // cheap pruned probe: prove the optimizer-pushed WHERE skipped
    // files at planning time before handing back the real query
    val probe = s.sql(
      "SELECT COUNT(*) FROM fmt_lineitem WHERE l_orderkey BETWEEN 2000 AND 4000")
    probe.collect()
    val idx = probe.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.asInstanceOf[graft.sources.GraftFileIndex]
    }.get
    require(idx.lastListedCount < idx.snapshot.entries.size,
      s"format read did not prune: ${idx.lastListedCount}/" +
        s"${idx.snapshot.entries.size} files scanned")
    s.sql(sql)
  }

  /** TxTable file-level data skipping end-to-end: lineitem lands
    * range-clustered on l_orderkey in a transactional table (the
    * sort-keyed bulk-load layout), then a key-range + measure
    * predicate reads back through [[TxTable.readWhere]] — manifest
    * stats prove most files empty BEFORE Spark lists a path, and the
    * query REQUIREs that skipping actually happened. The oracle runs
    * the same predicate over the raw parquet, so equality proves
    * pruning never dropped a matching row. At 100 TB this is the
    * difference between scanning a table and scanning a key range.
    */
  val statsSkipping: Q = Q(
    "q_stats_skipping",
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_quantity > 25
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    import graft.sources.TxTable
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"))
    val root = Fixtures.path("skipq", dir)
    TxTable.create(li.repartitionByRange(8, col("l_orderkey")), root)
    val cond = col("l_orderkey").between(1000L, 3000L) && col("l_quantity") > 25.0
    val snap = TxTable.currentSnapshot(s, root).get
    val kept = TxTable.statsPrune(s, snap, cond)
    require(kept.size < snap.entries.size,
      s"stats skipping did not prune: ${kept.size}/${snap.entries.size} files kept")
    TxTable.readWhere(s, root, cond)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        ExactAgg.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Z-order clustering end-to-end ([[graft.sources.ZOrder]]): orders
    * lands Morton-interleaved on (o_custkey, o_orderdate) — TWO
    * independent dimensions a single sort key cannot serve — and a
    * selective predicate on EACH dimension separately reads back
    * through the stats-pruned path, REQUIREing that files were
    * actually skipped on both. The oracle re-derives both legs from
    * the raw parquet, so equality proves multi-dimension pruning never
    * dropped a matching row.
    */
  val zorderSkipping: Q = Q(
    "q_zorder_skip",
    """SELECT dim, n_rows, total FROM (
      |  SELECT 'by_cust' AS dim, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total
      |  FROM orders WHERE o_custkey BETWEEN 100 AND 200
      |  UNION ALL
      |  SELECT 'by_date' AS dim, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1993-01-01')
      |ORDER BY dim""".stripMargin) { (s, dir) =>
    import graft.sources.{TxTable, ZOrder}
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val root = Fixtures.path("zorderq", dir)
    ZOrder.write(o, root, Seq(col("o_custkey"), col("o_orderdate")),
      numFiles = 16, bits = 6)
    val snap = TxTable.currentSnapshot(s, root).get
    val onCust = col("o_custkey").between(100L, 200L)
    // NTZ literal: an LTZ one would make the analyzer cast the COLUMN,
    // hiding the attribute from the stats pruner
    val onDate = col("o_orderdate") < lit("1993-01-01").cast("timestamp_ntz")
    for ((cond, tag) <- Seq((onCust, "o_custkey"), (onDate, "o_orderdate"))) {
      val kept = TxTable.statsPrune(s, snap, cond).size
      require(kept < snap.entries.size,
        s"z-order did not prune on $tag: $kept/${snap.entries.size} files kept")
    }
    def leg(cond: org.apache.spark.sql.Column, name: String) =
      TxTable.readWhere(s, root, cond)
        .agg(count(lit(1)).as("n_rows"),
          ExactAgg.dsum(col("o_totalprice")).as("total"))
        .select(lit(name).as("dim"), col("n_rows"), col("total"))
    leg(onCust, "by_cust").unionAll(leg(onDate, "by_date"))
      .orderBy(col("dim"))
  }

  /** JSONL: the documents corpus exports as newline-delimited JSON,
    * reads back typed through the PERMISSIVE quarantine path under
    * the error budget, then aggregates per language; the oracle
    * aggregates the original parquet — equality proves the JSONL
    * round-trip lossless (including multi-byte text content).
    */
  val jsonlRoundtrip: Q = Q(
    "q_jsonl_roundtrip",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val out = Fixtures.path("jsonl", dir)
    JsonIngest.writeInterchange(docs, out)
    val (good, bad) = CsvIngest.splitCorrupt(
      JsonIngest.readStaging(s, out, docs.schema), runId = "jsonl_roundtrip")
    CsvIngest.enforceBudget(good.count(), bad.count())
    good.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** S7 XML: customer exports as repeated row elements, reads back
    * through the schema-declared (XSD-analog) PERMISSIVE XML source,
    * then aggregates; the oracle aggregates the original parquet —
    * equality proves the XML round-trip lossless (doubles survive via
    * their shortest round-trip decimal form).
    */
  val xmlRoundtrip: Q = Q(
    "q_xml_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n_c,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val out = Fixtures.path("xmlrt", dir)
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      // 1-row-group parquet scans as ONE partition; spread so the
      // row-tag XML serialization runs on all cores, not one
      // (hashed by the unique key: skips sort-before-repartition)
      .repartition(s.sparkContext.defaultParallelism, col("c_custkey"))
      .write.mode("overwrite").format("xml").option("rowTag", "cust").save(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType)))
    val (good, _) = CsvIngest.splitCorrupt(
      graft.sources.XmlIngest.read(s, out, "cust", schema), runId = "xmlrt")
    good.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_c"),
        ExactAgg.dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** S5 fixed-width format: customer exports as a space-padded
    * fixed-width text file, reads back through substring slicing +
    * typed promote, then aggregates. The oracle aggregates the
    * original parquet — equality proves the fixed-width round-trip
    * lossless (doubles survive via their canonical string form).
    */
  val fixedWidthRoundtrip: Q = Q(
    "q_fixed_width",
    """SELECT c_mktsegment, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val widths = Seq(
      "c_custkey" -> 12, "c_name" -> 26, "c_acctbal" -> 14,
      "c_mktsegment" -> 12)
    val out = Fixtures.path("fixedwidth", dir)
    FixedWidth.writeFixed(
      Tables.customer(s, dir)
        .select(widths.map { case (n, _) => col(n) }: _*),
      out, widths)
    val target = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val (typed, _) = FixedWidth.readTyped(
      s, out, FixedWidth.layout(widths: _*), target, runId = "fw")
    typed.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_rows"),
        ExactAgg.dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** S9 exercised for REAL: supplier bulk-loads into an embedded Derby
    * database over `df.write.jdbc` (batched inserts), reads back
    * through the `dbtable` + pushed-filter path, joins the broadcast
    * nation dimension and aggregates. The oracle aggregates the
    * original parquet, so equality proves the relational round-trip
    * (type mapping included) lossless.
    */
  val jdbcRoundtrip: Q = Q(
    "q_jdbc_roundtrip",
    """SELECT n_name, COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(round(s_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 0
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val url = Jdbc.memoryUrl("graftdb")
    Jdbc.write(Tables.supplier(s, dir), url, "supplier", batchsize = 5000)
    val sup = Jdbc.readTable(s, url, "supplier")
      .filter(col("s_acctbal") > 0) // pushed into the source SQL (P9)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
    val nat = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
    sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        ExactAgg.dsum(col("s_acctbal")).as("total_bal"))
      .orderBy(col("n_name"))
  }

  val csvRoundtrip: Q = Q(
    "q_csv_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val out = Fixtures.path("interchange", dir)
    CsvIngest.writeInterchange(cust, out)
    val meta = TypeMatrix.introspect(cust.schema)
    val target = TypeMatrix.structType(meta)
    val (good, bad) = CsvIngest.splitCorrupt(
      CsvIngest.readStaging(s, out, target), runId = "roundtrip")
    CsvIngest.enforceBudget(good.count(), bad.count())
    val (typed, _) = CsvIngest.promote(good, target, runId = "roundtrip")
    typed.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        ExactAgg.dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }
}
