package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MERGE-ON-READ row-level deletes for [[TxTable]] — the structural
  * complement of the partition-granularity copy-on-write leg
  * ([[GraftRowLevelOperation]]). Copy-on-write rewrites every touched
  * layout group, so a DELETE whose keys scatter across all N buckets
  * rewrites the whole table; here the DELETE writes a POSITION-DELETE
  * file instead — `(file_key, pos)` rows naming the doomed rows by
  * data file and physical row position (`_metadata.row_index`) — and
  * commits it as manifest metadata ([[TxTable.DvEntry]], `#dv=`
  * lines). Write cost is ∝ DELETED ROWS, never table size; every read
  * path then anti-joins the snapshot's delete set back out.
  * (The deletion-vector design of the published Delta/Iceberg v2
  * formats, re-expressed over Spark's own `_metadata` columns and a
  * plain anti-join instead of a custom reader.)
  *
  * Read integration — one rule, three surfaces:
  *   - the programmatic paths ([[TxTable.read]]/readVersion/readWhere/
  *     readPartitions, compact, rewriteAll, ChangeFeed) merge through
  *     [[applyDvs]] directly;
  *   - SQL/DataFrame reads (the `gc` catalog's V2 relations and
  *     `spark.read.format("graft")`'s V1 relations) are rewritten by
  *     [[ApplyDeletionVectors]] — an injected resolution rule
  *     (`spark.sql.extensions=graft.GraftExtensions`) that swaps a
  *     DV-bearing relation for the merged plan. A session WITHOUT the
  *     extension fails loudly ([[GraftFileIndex.listFiles]] refuses
  *     DV-bearing snapshots) instead of silently resurrecting rows;
  *   - copy-on-write DML on a DV-bearing snapshot MATERIALIZES the
  *     deletes first ([[materialize]] — rewrites only the DV-affected
  *     files) so the CoW scan's raw parquet read stays exact.
  *
  * At 100 TB: the anti-join's build side is the delete set (∝ deletes
  * since the last materialize), broadcast by AQE while small, shuffled
  * when genuinely huge — never a driver collect. `compact()` and
  * [[materialize]] localize deletes back into data files; the
  * `delete_where`/`rewrite_deletes` CALLs expose both to SQL.
  */
object MergeOnRead {

  /** Schema of a position-delete parquet file. */
  val DvSchema: StructType = StructType(Seq(
    StructField("file_key", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Canonical key of a data file: the path suffix from its LAST
    * `data/` segment (`data/<uuid>/…parquet`). Write-once UUID dirs
    * make the suffix unique per table, and it is invariant under the
    * forms a path takes across readers — manifest-relative
    * (`data/…`), absolute after a shallow clone, and the
    * `file:/…`-qualified URI `_metadata.file_path` reports — so
    * delete rows written against one form match every other.
    */
  def fileKey(path: String): String = {
    if (path.startsWith("data/")) return path
    val i = path.lastIndexOf("/data/")
    if (i >= 0) path.substring(i + 1) else path
  }

  /** [[fileKey]] as a codegen'd column (no UDF): the LAST
    * segment-anchored `data/…` suffix of the metadata file path.
    */
  private def fileKeyCol(c: Column): Column =
    regexp_extract(c, "^(?:.*/)?(data/.*)$", 1)

  /** The union of a snapshot's delete files as a DataFrame. */
  private[sources] def dvFrame(
      spark: SparkSession, root: String,
      dvs: Seq[TxTable.DvEntry]): DataFrame =
    if (dvs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DvSchema)
    else
      spark.read.schema(DvSchema)
        .parquet(dvs.map(d => TxTable.entryPath(root, d.relPath)): _*)

  private def withPos(base: DataFrame): DataFrame = base
    .withColumn("__g_key", fileKeyCol(col("_metadata.file_path")))
    .withColumn("__g_pos", col("_metadata.row_index"))

  private def antiJoin(base: DataFrame, dv: DataFrame): DataFrame = {
    val keyed = withPos(base)
    keyed.join(dv,
        keyed("__g_key") === dv("file_key") && keyed("__g_pos") === dv("pos"),
        "left_anti")
      .drop("__g_key", "__g_pos")
  }

  /** Apply `snap`'s position deletes to a raw parquet read of (a
    * subset of) its entries. No-op without DVs; otherwise one
    * anti-join on (file key, row position) — the build side is the
    * delete set, so cost scales with deletes, not data.
    */
  def applyDvs(
      spark: SparkSession, root: String, snap: TxTable.Snapshot,
      base: DataFrame): DataFrame =
    applyDvList(spark, root, snap.dvs, base)

  /** The read schema that can see RENAMED columns' historical names:
    * the declared schema plus, per alias, a nullable field of the
    * CURRENT declared type under the OLD name (old files fill it, new
    * files null it; the declared type covers narrower physical values
    * via the reader's upcast — rename composes with widening).
    */
  private def extendedSchema(
      schema: StructType,
      aliases: Map[String, Seq[String]]): StructType =
    StructType(schema.fields ++ aliases.toSeq.flatMap { case (cur, olds) =>
      val dt = schema(cur).dataType
      olds.map(o => StructField(o, dt, nullable = true))
    })

  /** Collapse alias columns back into their current names —
    * `coalesce(new, old₁, old₂, …)` per renamed column — keeping
    * `keep` helper columns (position keys) if asked.
    */
  private def aliasProject(
      df: DataFrame, schema: StructType,
      aliases: Map[String, Seq[String]],
      keep: Seq[String] = Nil): DataFrame =
    if (aliases.isEmpty) df
    else df.select(schema.fields.map { f =>
      aliases.get(f.name) match {
        case Some(olds) =>
          coalesce((col(f.name) +: olds.map(col)): _*).as(f.name)
        case None => col(f.name)
      }
    } ++ keep.map(col): _*)

  /** The fully MERGED read of `entries` under `snap`'s metadata:
    * historical column names coalesced, position deletes anti-joined.
    * Every snapshot-faithful reader goes through here.
    */
  private[sources] def mergedRead(
      spark: SparkSession, root: String, snap: TxTable.Snapshot,
      entries: Seq[TxTable.Entry]): DataFrame = {
    val schema = snap.schema
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val base = spark.read.schema(extendedSchema(schema, snap.aliases))
      .parquet(entries.map(e => TxTable.entryPath(root, e.relPath)): _*)
    aliasProject(applyDvList(spark, root, snap.dvs, base), schema,
      snap.aliases)
  }

  /** [[mergedRead]] of the rows AT the positions in `posDf` —
    * ChangeFeed uses this to turn a position-delete delta back into
    * (alias-resolved) row images.
    */
  private[sources] def mergedRowsAt(
      spark: SparkSession, root: String, snap: TxTable.Snapshot,
      entries: Seq[TxTable.Entry], posDf: DataFrame): DataFrame = {
    val schema = snap.schema
    val base = spark.read.schema(extendedSchema(schema, snap.aliases))
      .parquet(entries.map(e => TxTable.entryPath(root, e.relPath)): _*)
    aliasProject(rowsAt(base, posDf), schema, snap.aliases)
  }

  private[sources] def applyDvList(
      spark: SparkSession, root: String, dvs: Seq[TxTable.DvEntry],
      base: DataFrame): DataFrame =
    if (dvs.isEmpty) base
    else antiJoin(base, dvFrame(spark, root, dvs))

  /** The rows of `base` AT the positions in `posDf` (semi-join on
    * (file key, row position)) — ChangeFeed uses this to turn a
    * position-delete delta back into row images.
    */
  private[sources] def rowsAt(base: DataFrame, posDf: DataFrame): DataFrame = {
    val keyed = withPos(base)
    keyed.join(posDf,
        keyed("__g_key") === posDf("file_key") &&
          keyed("__g_pos") === posDf("pos"), "left_semi")
      .drop("__g_key", "__g_pos")
  }

  /** The merged logical read of one snapshot — what the resolution
    * rule splices in place of a DV- or alias-bearing relation.
    */
  private[sources] def readMerged(
      spark: SparkSession, root: String, snap: TxTable.Snapshot): DataFrame =
    mergedRead(spark, root, snap, snap.entries)

  /** The snapshot's currently-visible rows with their
    * (`__g_key`, `__g_pos`) position columns: raw files scanned with
    * `_metadata` positions, the existing delete set anti-joined FIRST
    * (already-deleted rows must not re-match — their positions would
    * double-count), then the alias projection so predicates see
    * current column names while the position keys survive.
    */
  private def visibleWithPos(
      spark: SparkSession, root: String, cur: TxTable.Snapshot,
      entries: Seq[TxTable.Entry]): DataFrame = {
    val schema = cur.schema
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ Seq(
          StructField("__g_key", StringType),
          StructField("__g_pos", LongType))))
    val base = spark.read
      .schema(extendedSchema(schema, cur.aliases))
      .parquet(entries.map(e => TxTable.entryPath(root, e.relPath)): _*)
    val keyed = withPos(base)
    val dv = dvFrame(spark, root, cur.dvs)
    aliasProject(
      keyed.join(dv,
        keyed("__g_key") === dv("file_key") &&
          keyed("__g_pos") === dv("pos"), "left_anti"),
      schema, cur.aliases, keep = Seq("__g_key", "__g_pos"))
  }

  /** The manifest entries that can possibly hold a match for
    * `source`'s keys: when the table's bucket layout hashes a SUBSET
    * of the ON keys, equal keys land in equal buckets, so only the
    * buckets the source's keys hash into can match — the rest of the
    * table is pruned from the position scan at the MANIFEST (the
    * scattered-trickle CDC shape then reads ∝ touched buckets, not
    * table size). Identity layouts prune the same way when the layout
    * column is an ON key — source values are rendered to directory
    * segments with the writer's own rules (session-timezone Cast +
    * Hive escaping), bounded at [[MaxIdentityCandidates]] distinct
    * values (an unbounded key set falls back to the full scan rather
    * than collecting it to the driver). Entries outside the layout's
    * dir convention (legacy unplaced appends) are conservatively
    * kept.
    */
  private[graft] def candidateEntries(
      source: DataFrame, keys: Seq[String], layout: Option[String],
      entries: Seq[TxTable.Entry]): Seq[TxTable.Entry] =
    layout.map(l => (l, Layout.parse(l))) match {
      case Some((spec, b: Layout.Bucket))
          if b.cols.forall(c => keys.exists(_.equalsIgnoreCase(c))) =>
        val prefix = s"${b.partName}="
        val keep = source
          .select(Layout.dirColumn(source, spec).cast("string").as("b"))
          .distinct().collect().map(r => prefix + r.getString(0)).toSet
        entries.filter(e =>
          !e.partition.startsWith(prefix) || keep(e.partition))
      case Some((_, idl: Layout.Identity))
          if keys.exists(_.equalsIgnoreCase(idl.col)) =>
        val prefix = s"${idl.partName}="
        // cast-to-string matches the CoW writer's rendering (same Cast
        // expression, session timezone); escaping matches partitionBy
        val rows = source.select(col(idl.col).cast("string").as("v"))
          .distinct().limit(MaxIdentityCandidates + 1).collect()
        if (rows.length > MaxIdentityCandidates) entries
        else {
          val keep = rows.map { r =>
            if (r.isNullAt(0)) prefix + "__HIVE_DEFAULT_PARTITION__"
            else prefix + org.apache.spark.sql.GraftColumnBridge
              .escapePartitionValue(r.getString(0))
          }.toSet
          entries.filter(e =>
            !e.partition.startsWith(prefix) || keep(e.partition))
        }
      case _ => entries
    }

  /** Cap on the driver-collected distinct identity values in
    * [[candidateEntries]] — past it the key set is "scattered enough"
    * that pruning buys little and the collect itself is the risk.
    */
  private val MaxIdentityCandidates = 1000

  /** Write `positions` (file_key, pos) as a new `deletes/<uuid>`
    * directory and return its manifest entries: each task streams its
    * rows through the one delete-file writer, [[DvWriter]] (one
    * `part-<partition>-<task>.parquet` per task that saw a row), which
    * counts the rows and records the covered file keys as it writes —
    * nothing is read back.
    */
  private def writeDv(
      spark: SparkSession, root: String,
      positions: DataFrame): Seq[TxTable.DvEntry] = {
    val rel = s"deletes/${java.util.UUID.randomUUID()}"
    val (conf, codecName, _) = TaskParquet.prepare(spark, DvSchema)
    positions.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val w = new DvWriter(conf.value, root, rel, codecName,
        s"$pid-${org.apache.spark.TaskContext.get().taskAttemptId()}")
      try {
        rows.foreach(r => w.write(r.getUTF8String(0), r.getLong(1)))
        w.commit().iterator
      } catch { case e: Throwable => w.abort(); throw e }
    }.collect().toSeq
  }

  /** SQL UPDATE post-image projection: every assignment's RHS
    * evaluates against the row's PRE-image (all assignments
    * simultaneous), cast to the column's declared type; unassigned
    * columns pass through. Shared by [[updateWhere]] and
    * [[mergeInto]].
    */
  private def postImage(
      df: DataFrame, schema: StructType,
      sets: Seq[(String, Column)]): DataFrame =
    df.select(schema.fields.map { fld =>
      sets.find(_._1.equalsIgnoreCase(fld.name))
        .map { case (_, e) => e.cast(fld.dataType).as(fld.name) }
        .getOrElse(col(fld.name))
    }.toSeq: _*)

  /** Delete root-relative directories of an uncommitted attempt. */
  private[sources] def discardDirs(
      spark: SparkSession, root: String, rels: Seq[String]): Unit = {
    val f = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    rels.foreach(rel => Try(f.delete(new Path(s"$root/$rel"), true)))
  }

  /** Run a pinned DV commit of one attempt's legs — its delete files
    * `dvs` and fresh data files `fresh` — and on a lost race delete
    * their `deletes/<uuid>` and `data/<uuid>` directories and rethrow:
    * positions are only valid against the snapshot they were computed
    * from, so the programmatic DML rescans ([[TxTable.retrying]]) and
    * a SQL `mor` statement fails. Every merge-on-read DML path commits
    * through here.
    */
  private[sources] def commitOrDiscard[T](
      spark: SparkSession, root: String, dvs: Seq[TxTable.DvEntry],
      fresh: Seq[TxTable.Entry])(commit: => T): T =
    try commit
    catch {
      case e: TxTable.ConcurrentCommitException =>
        discardDirs(spark, root,
          (dvs.map(_.relPath) ++ fresh.map(_.relPath))
            .map(_.split("/").take(2).mkString("/")).distinct)
        throw e
    }

  /** MERGE-ON-READ DELETE: commit a position-delete file for every
    * currently-visible row matching `cond` — data files untouched,
    * write bytes ∝ deleted rows. Returns (new version, rows deleted);
    * a no-match delete commits nothing. Lost optimistic races retry
    * with a fresh position scan (positions are only valid against the
    * snapshot they were computed from).
    */
  def deleteWhere(
      spark: SparkSession, root: String, cond: Column,
      maxRetries: Int = 10): (Long, Long) =
    TxTable.retrying(maxRetries) {
      val cur = TxTable.requireSnapshot(spark, root)
      if (cur.entries.isEmpty) (cur.version, 0L)
      else {
        val doomed = visibleWithPos(spark, root, cur, cur.entries)
          .filter(cond)
          .select(col("__g_key").as("file_key"), col("__g_pos").as("pos"))
        val newDvs = writeDv(spark, root, doomed)
        if (newDvs.isEmpty) (cur.version, 0L) // no match: nothing written
        else (commitOrDiscard(spark, root, newDvs, Nil)(
          TxTable.commitDvAppend(spark, root, cur.version, newDvs)),
          newDvs.map(_.rows).sum)
      }
    }

  /** MERGE-ON-READ UPDATE: for every currently-visible row matching
    * `cond`, commit (a) a position-delete file masking its OLD image
    * and (b) new data files carrying its post-image with `sets`
    * applied — in ONE atomic commit, write bytes ∝ updated rows. The
    * scattered-key UPDATE shape: copy-on-write UPDATE rewrites every
    * touched layout group, so an update whose keys scatter across all
    * N buckets rewrites the table; this writes only the changed rows.
    *
    * Semantics are SQL UPDATE's: every assignment's RHS evaluates
    * against the row's PRE-image (all assignments simultaneous), and
    * the result is cast to the column's declared type. Appended rows
    * follow the table's layout placement (bucket/identity dirs), so
    * SPJ/pruning contracts survive; CHECK constraints run over the
    * post-images before commit. [[ChangeFeed.between]] across an
    * update version reconciles the DV delta (old images) with the
    * appended files (new images) into `_op = 'update'` rows.
    *
    * Returns (new version, rows updated); a no-match update commits
    * nothing. Races retry with a fresh position scan, like
    * [[deleteWhere]].
    */
  def updateWhere(
      spark: SparkSession, root: String, cond: Column,
      sets: Seq[(String, Column)], maxRetries: Int = 10): (Long, Long) = {
    require(sets.nonEmpty, "updateWhere: no SET assignments")
    TxTable.retrying(maxRetries) {
      val cur = TxTable.requireSnapshot(spark, root)
      val schema = cur.schema
      if (cur.entries.isEmpty) (cur.version, 0L)
      else {
        sets.foreach { case (n, _) =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"updateWhere: no such column $n (table has " +
              s"${schema.fieldNames.mkString(", ")})")
        }
        // one scan feeds both legs (positions + post-images): the
        // matched set is ∝ updated rows — exactly the write volume — so
        // materializing it avoids a second full-table scan.
        // localCheckpoint (not persist): the downstream actions (DV
        // write, post-image write) then plan over a flat LogicalRDD
        // instead of re-analyzing the whole merge-on-read tree per
        // action — the statement's driver time was ~40% inter-job
        // Catalyst gaps (guide §5; r19 JobProf). The checkpointed
        // blocks are change-volume-sized and a lost executor fails the
        // statement, which simply retries.
        val matched = graft.CacheScope.localCheckpointTruncated(
          visibleWithPos(spark, root, cur, cur.entries).filter(cond))
        try {
          val positions = matched
            .select(col("__g_key").as("file_key"), col("__g_pos").as("pos"))
          val newDvs = writeDv(spark, root, positions)
          if (newDvs.isEmpty) (cur.version, 0L) // no match: nothing written
          else {
            val fresh = TxTable.writeData(postImage(matched, schema, sets),
              root, GraftCatalog.layoutOf(spark, root, cur))
            (commitOrDiscard(spark, root, newDvs, fresh)(
              TxTable.commitDvUpdate(spark, root, cur.version, newDvs, fresh,
                "updateWhere")), newDvs.map(_.rows).sum)
          }
        } finally graft.CacheScope.unpersistCheckpoint(matched)
      }
    }
  }

  /** What a [[mergeInto]] commit did: the committed version plus the
    * row counts of each clause leg.
    */
  final case class MergeResult(
      version: Long, updated: Long, deleted: Long, inserted: Long)

  /** MERGE-ON-READ MERGE (upsert): reconcile `source` into the table
    * on equality of `keys` in ONE atomic commit — matched rows'
    * old images are masked by a position-delete file, their
    * post-images (and the unmatched source rows, when
    * `insertUnmatched`) land as new data files. Write bytes ∝
    * CHANGED rows, never table size — the scattered-key MERGE shape
    * that completes the merge-on-read DML trio
    * ([[deleteWhere]]/[[updateWhere]]/here); SQL `MERGE INTO` on a
    * graft table still takes the copy-on-write group rewrite, which
    * wins when changes cluster inside few layout groups.
    *
    * Clause semantics (SQL MERGE):
    *   - `matchedDelete` — `WHEN MATCHED AND cond THEN DELETE`,
    *     evaluated FIRST (clause order);
    *   - `matchedSets` — `WHEN MATCHED [AND matchedCond] THEN
    *     UPDATE`: `Some(Nil)` updates every table column the source
    *     also carries from the source row ("update all"); `Some(sets)`
    *     applies explicit assignments (RHS sees the target row's
    *     columns top-level and the source row as a `src` struct —
    *     `col("src.x")`); `None` — or a matched row failing
    *     `matchedCond` — leaves the row untouched;
    *   - unmatched source rows passing `insertCond` (`WHEN NOT
    *     MATCHED [AND cond] THEN INSERT` — e.g. skip CDC tombstones
    *     for never-seen keys) insert by column NAME (table columns
    *     the source lacks null-fill), cast to declared types;
    *   - a target row matching MORE than one source row raises (the
    *     SQL MERGE cardinality violation) — silently applying an
    *     arbitrary one would be nondeterministic;
    *   - `evolveSchema` additively evolves the table first: EVERY
    *     source column the table lacks is added (metadata-only,
    *     nullable — [[TxTable.addColumns]]), so update-all and the
    *     inserts carry it; rows untouched by the merge read it as
    *     null, and time travel keeps per-version schemas. Off by
    *     default: an unknown source column is otherwise ignored;
    *   - `txn = Some((txnId, batchId))` makes the merge EXACTLY-ONCE
    *     under streaming replay (the [[TxTable.txnAppend]] watermark
    *     contract): a batch at or below the recorded watermark is
    *     skipped, the watermark advances atomically with the merge's
    *     own commit (a no-op batch bumps it metadata-only), so
    *     `foreachBatch { (b, id) => mergeInto(…, txn = Some((qid,
    *     id))) }` is a replay-safe streaming upsert sink.
    *
    * Appended rows keep the table's layout placement (bucket dirs —
    * SPJ and manifest pruning survive), CHECKs run over the
    * post-images before commit, and [[ChangeFeed.between]] across the
    * version nets each key to insert/update/delete from the DV delta
    * + appended files. Lost optimistic races discard both legs and
    * retry on a fresh position scan, like [[updateWhere]].
    */
  def mergeInto(
      spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String],
      matchedSets: Option[Seq[(String, Column)]] = Some(Nil),
      matchedDelete: Option[Column] = None,
      insertUnmatched: Boolean = true,
      matchedCond: Option[Column] = None,
      insertCond: Option[Column] = None,
      evolveSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      maxRetries: Int = 10): MergeResult = {
    require(keys.nonEmpty, "mergeInto: no ON key columns")
    require(matchedSets.isDefined || matchedDelete.isDefined ||
      insertUnmatched, "mergeInto: no merge clauses given")
    val srcCols = source.columns.toSeq
    keys.foreach(k => require(srcCols.exists(_.equalsIgnoreCase(k)),
      s"mergeInto: source has no key column $k (source columns: " +
        s"${srcCols.mkString(", ")})"))
    // exactly-once replay guard (the txnAppend watermark contract): a
    // batch at or below the recorded watermark already applied in full
    // — its commit and the watermark advanced atomically
    def applied(cur: TxTable.Snapshot): Boolean =
      txn.exists { case (id, b) => cur.txns.get(id).exists(_ >= b) }
    // schema evolution first, as its own optimistic loop: a lost race
    // re-reads the fresh schema (a concurrent writer may have added
    // some of the columns itself)
    if (evolveSchema) TxTable.retrying(maxRetries) {
      val cur = TxTable.requireSnapshot(spark, root)
      val extra = if (applied(cur)) Nil else source.schema.fields.toSeq
        .filterNot(f => cur.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      if (extra.nonEmpty) TxTable.addColumns(spark, root, extra)
    }
    TxTable.retrying(maxRetries) {
      val cur = TxTable.requireSnapshot(spark, root)
      val schema = cur.schema
      if (applied(cur)) MergeResult(cur.version, 0L, 0L, 0L)
      else {
        keys.foreach(k => require(schema.fieldNames.exists(_.equalsIgnoreCase(k)),
          s"mergeInto: no such key column $k (table has " +
            s"${schema.fieldNames.mkString(", ")})"))
        matchedSets.toSeq.flatten.foreach { case (n, _) =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"mergeInto: no such column $n (table has " +
              s"${schema.fieldNames.mkString(", ")})")
        }
        require(!schema.fieldNames.exists(_.equalsIgnoreCase("src")),
          "mergeInto: the table has a column named `src`, which is " +
            "reserved for the source-row struct in clause expressions — " +
            "RENAME COLUMN it first")
        val layout = GraftCatalog.layoutOf(spark, root, cur)
        // when the bucket layout hashes a subset of the ON keys, only
        // the buckets the source's keys hash into can hold a match —
        // the position scan prunes to them at the manifest
        val tgt = visibleWithPos(spark, root, cur,
          candidateEntries(source, keys, layout, cur.entries))
        val src = source.select(struct(srcCols.map(col): _*).as("src"))
        val joined = tgt.join(src,
          keys.map(k => col(k) === col(s"src.$k")).reduce(_ && _),
          "right_outer")
        // the joined frame is ∝ source rows + matched targets — the
        // change volume — so materializing it feeds the cardinality
        // check, counts, positions and post-images from one scan.
        // localCheckpoint (not persist): the FOUR downstream actions
        // then plan over a flat LogicalRDD instead of re-analyzing the
        // whole merge-on-read join tree per action — the statement's
        // driver time was 41% inter-job Catalyst gaps (guide §5; r19
        // JobProf). Blocks are change-volume-sized; a lost executor
        // fails the statement, which simply retries from a fresh
        // snapshot.
        val joinedCp = graft.CacheScope.localCheckpointTruncated(joined)
        try {
          val isMatched = col("__g_key").isNotNull
          val delCond = coalesce(matchedDelete.getOrElse(lit(false)), lit(false))
          val updCond = isMatched && !delCond && lit(matchedSets.isDefined) &&
            coalesce(matchedCond.getOrElse(lit(true)), lit(false))
          val insCond = !isMatched && lit(insertUnmatched) &&
            coalesce(insertCond.getOrElse(lit(true)), lit(false))
          // clause counts AND the cardinality probe in ONE pass. The
          // probe counts only rows an update/delete clause ACTS on: a
          // position acted on twice repeats in the acting set, so
          // acting > distinct acting positions ⟺ the same target row
          // would be updated/deleted more than once (nondeterministic);
          // duplicate matches no clause touches are harmless, so an
          // insert-only merge never spuriously aborts.
          val actCond = isMatched && (delCond || updCond)
          val cnt = joinedCp.agg(
            coalesce(sum(when(isMatched && delCond, 1L)), lit(0L)).as("d"),
            coalesce(sum(when(updCond, 1L)), lit(0L)).as("u"),
            coalesce(sum(when(insCond, 1L)), lit(0L)).as("i"),
            coalesce(sum(when(actCond, 1L)), lit(0L)).as("m"),
            countDistinct(
              when(actCond, struct(col("__g_key"), col("__g_pos"))))
              .as("md")).head()
          if (cnt.getLong(3) > cnt.getLong(4)) throw new IllegalStateException(
            "mergeInto: an update/delete clause acts on the same target " +
              s"row through more than one source row (ON " +
              s"${keys.mkString(", ")} is not unique in the source) — " +
              "the SQL MERGE cardinality violation")
          val (nDel, nUpd, nIns) =
            (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
          // a no-op batch with a txn still commits: both legs stay
          // empty, so the commit is the metadata-only watermark bump a
          // restarted stream needs to stop replaying it
          if (nDel + nUpd + nIns == 0L && txn.isEmpty)
            MergeResult(cur.version, 0L, 0L, 0L)
          else {
            val positions = joinedCp.filter(actCond)
              .select(col("__g_key").as("file_key"), col("__g_pos").as("pos"))
            val sets: Seq[(String, Column)] = matchedSets match {
              case Some(Nil) => schema.fieldNames.toSeq
                .filter(n => srcCols.exists(_.equalsIgnoreCase(n)))
                .map(n => n -> col(s"src.$n"))
              case Some(s) => s
              case None => Nil
            }
            // post-images: updates keep SQL UPDATE semantics (via
            // postImage); inserts bind source columns by name,
            // null-filling the rest
            val updated = postImage(joinedCp.filter(updCond), schema, sets)
            val inserted = joinedCp.filter(insCond).select(schema.fields.map { fld =>
              if (srcCols.exists(_.equalsIgnoreCase(fld.name)))
                col(s"src.${fld.name}").cast(fld.dataType).as(fld.name)
              else lit(null).cast(fld.dataType).as(fld.name)
            }.toSeq: _*)
            val newDvs =
              if (nDel + nUpd == 0L) Seq.empty[TxTable.DvEntry]
              else writeDv(spark, root, positions)
            val fresh =
              if (nUpd + nIns == 0L) Seq.empty[TxTable.Entry]
              else TxTable.writeData(updated.unionByName(inserted), root, layout)
            val v = commitOrDiscard(spark, root, newDvs, fresh) {
              if (fresh.isEmpty)
                TxTable.commitDvAppend(spark, root, cur.version, newDvs, txn)
              else TxTable.commitDvUpdate(spark, root, cur.version, newDvs,
                fresh, "mergeInto", txn)
            }
            MergeResult(v, nUpd, nDel, nIns)
          }
        } finally graft.CacheScope.unpersistCheckpoint(joinedCp)
      }
    }
  }

  /** MATERIALIZE the delete set: rewrite exactly the DV-affected data
    * files with their deletes applied, drop every delete file from the
    * manifest, ONE commit. Cost ∝ the affected files' live rows — the
    * localization half of the merge-on-read trade (run it when the
    * delete set has grown past the anti-join's comfort, or before
    * copy-on-write DML, which [[GraftV2Table]] does automatically).
    * Returns the new version (current one when there is nothing to do).
    */
  def materialize(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20, maxRetries: Int = 3): Long =
    TxTable.retrying(maxRetries) {
      val cur = TxTable.requireSnapshot(spark, root)
      if (cur.dvs.isEmpty) cur.version
      else {
        // distinct file keys in the delete set — bounded by live file
        // count (manifest scale), not by deleted rows
        val keys = dvFrame(spark, root, cur.dvs)
          .select("file_key").distinct().collect().map(_.getString(0)).toSet
        val affected = cur.entries.filter(e =>
          keys.contains(fileKey(TxTable.entryPath(root, e.relPath))))
        val fresh = affected.groupBy(_.partition).toSeq.flatMap { case (part, es) =>
          val merged = mergedRead(spark, root, cur, es)
          val bytes = es.map(e => math.max(e.size, 0L)).sum
          val nOut = math.max(1L,
            (bytes + targetFileBytes - 1) / targetFileBytes).toInt
          TxTable.writeData(merged.coalesce(nOut), root, None)
            .map(_.copy(partition = part))
            // a fully-deleted group leaves an empty shard — drop it
            .filterNot(e => FileStats.decode(e.stats).rows == 0L)
        }
        TxTable.commitDvMaterialize(spark, root, cur.version,
          affected.map(_.relPath).toSet, fresh)
      }
    }
}

/** Injected resolution rule (`spark.sql.extensions =
  * graft.GraftExtensions`): rewrite every READ of a DV-bearing graft
  * relation — the `gc` catalog's V2 tables and `format("graft")`'s V1
  * relations — into the merged plan ([[MergeOnRead.readMerged]]),
  * aliased back onto the relation's own output attributes so
  * references above stay bound.
  *
  * Write/DML positions are left untouched: INSERT targets keep their
  * relation shape for write resolution, and row-level command targets
  * (DELETE/UPDATE/MERGE) keep theirs for Spark's rewrites. Under the
  * default `cow` mode those go through [[GraftRowLevelOperation]],
  * which materializes the delete set first, so their raw scans are
  * exact by construction; under `mor` ([[DeltaDml.ModeKey]] or the
  * `write.dml.mode` table property) they go through [[DeltaDml]]'s
  * delta scan, which merges the existing DVs inside the scan (a
  * per-file position skip).
  */
final class ApplyDeletionVectors(spark: SparkSession)
  extends Rule[LogicalPlan] {

  /** A snapshot needs the merged read when it carries position
    * deletes OR rename aliases — both are resolved by the same
    * spliced plan.
    */
  private def needsMerge(s: TxTable.Snapshot): Boolean =
    s.dvs.nonEmpty || s.aliases.nonEmpty

  private def dvTableOf(p: LogicalPlan): Option[(String, TxTable.Snapshot)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftV2Table if needsMerge(t.tableSnapshot) =>
          Some((t.tableRoot, t.tableSnapshot))
        case _ => None
      }
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case g: GraftFileIndex if needsMerge(g.snapshot) =>
            Some((g.root, g.snapshot))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Relations in WRITE position — never rewritten here. */
  private def protectedRels(plan: LogicalPlan): Set[LogicalPlan] = {
    val out = scala.collection.mutable.HashSet.empty[LogicalPlan]
    def protect(t: LogicalPlan): Unit = t.foreach {
      case r: DataSourceV2Relation => out += r
      case l: LogicalRelation => out += l
      case _ => ()
    }
    plan.foreach {
      case i: InsertIntoStatement => protect(i.table)
      case w: V2WriteCommand => protect(w.table)
      case d: DeleteFromTable => protect(d.table)
      case u: UpdateTable => protect(u.table)
      case m: MergeIntoTable => protect(m.targetTable)
      case _ => ()
    }
    out.toSet
  }

  /** Swap a stale DV-bearing relation for one over the CURRENT
    * snapshot, keeping its output attributes. Used on the relation
    * fields of a rewritten row-level command: the operation itself
    * ([[GraftRowLevelOperation]]) already materialized the delete set,
    * but `ReplaceData.originalTable` still pins the pre-materialize
    * snapshot — and Spark's runtime group-filtering plans its
    * matching-rows subquery as a fresh scan of exactly that relation,
    * which the raw-scan guard would (rightly) refuse.
    */
  private def freshTable(t: GraftV2Table): GraftV2Table = {
    val cur = TxTable.requireSnapshot(spark, t.tableRoot)
    new GraftV2Table(t.tableRoot, cur,
      GraftCatalog.layoutOf(spark, t.tableRoot, cur),
      timeTravel = false)
  }

  /** True when a row-level command's table field still pins a
    * pre-materialize (DV-bearing) snapshot — directly, or through the
    * RowLevelOperationTable wrapper Spark's rewrites interpose (the
    * runtime group filter unwraps `.table` from it and scans THAT).
    */
  private def staleDml(rel: LogicalPlan): Boolean = rel match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftV2Table => t.tableSnapshot.dvs.nonEmpty
      case w => org.apache.spark.sql.GraftColumnBridge
        .rowLevelOperationInner(w).exists {
          case t: GraftV2Table => t.tableSnapshot.dvs.nonEmpty
          case _ => false
        }
    }
    case other => other.children.exists(staleDml)
  }

  private def refreshed(rel: LogicalPlan): LogicalPlan = rel match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftV2Table if t.tableSnapshot.dvs.nonEmpty =>
        r.copy(table = freshTable(t))
      case w =>
        org.apache.spark.sql.GraftColumnBridge.rowLevelOperationInner(w) match {
          case Some(t: GraftV2Table) if t.tableSnapshot.dvs.nonEmpty =>
            r.copy(table = org.apache.spark.sql.GraftColumnBridge
              .withRowLevelOperationInner(w, freshTable(t)))
          case _ => rel
        }
    }
    case other => other.mapChildren(refreshed)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // cheap bail-out: the overwhelmingly common DV-free plan pays one
    // tree scan and no rewrite machinery. ReplaceData's table fields
    // are NOT children, so they are probed explicitly.
    val needs = plan.exists {
      case rd: ReplaceData =>
        Seq(rd.table, rd.originalTable).exists(staleDml)
      case p => dvTableOf(p).isDefined
    }
    if (!needs) return plan
    val prot = protectedRels(plan)
    plan.transformDownWithSubqueries {
      // a rewritten row-level command: the CoW operation materialized
      // the delete set, so re-pin its relation fields to the clean
      // current snapshot (the group-filter subquery scans them raw)
      case rd: ReplaceData
          if Seq(rd.table, rd.originalTable).exists(staleDml) =>
        rd.copy(
          table = refreshed(rd.table)
            .asInstanceOf[org.apache.spark.sql.catalyst.analysis.NamedRelation],
          originalTable = refreshed(rd.originalTable)
            .asInstanceOf[org.apache.spark.sql.catalyst.analysis.NamedRelation])
      case rel if !prot.contains(rel) && dvTableOf(rel).isDefined =>
        val (root, snap) = dvTableOf(rel).get
        val child = MergeOnRead.readMerged(spark, root, snap)
          .queryExecution.analyzed
        // rebind the merged plan onto the relation's attribute ids so
        // every reference above resolves unchanged
        Project(rel.output.zip(child.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, child)
    }
  }
}
