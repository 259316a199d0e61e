package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.util.Try

/** Minimal TRANSACTIONAL parquet table — the Delta/Iceberg-shaped seam
  * the CDC module needs, built from first principles on plain
  * parquet + an atomically-renamed manifest (the commit protocol of
  * the published Delta Lake paper, reduced to its core):
  *
  *   root/
  *     _manifest/v<N>.manifest   ← the ONLY commit point
  *     data/<uuid>/...parquet    ← immutable, write-once data files
  *
  * A manifest is a text file ([[render]] writes it, [[parseManifest]]
  * reads it): line 1 `#schema=<DDL>`, `#`-prefixed metadata lines,
  * one `relativePath<TAB>partitionValue<TAB>stats<TAB>size` entry per
  * live data file, then a final `#eof` sentinel. A commit writes its
  * data files first (invisible — no manifest references them), then
  * EXCLUSIVE-creates `v<N+1>.manifest` (create with overwrite=false —
  * the mutual-exclusion point) and streams its content; the manifest only
  * counts as committed once `#eof` is on disk. Readers resolve the
  * highest COMPLETE manifest once and read exactly its file list, so
  * they see the previous snapshot or the new one — never a torn mix;
  * a crash at any point mid-commit leaves the readable table
  * bit-identical (orphaned data files and `#eof`-less manifests are
  * invisible and reclaimed by [[vacuum]]). Version numbers give free
  * time travel ([[readVersion]]) and an optimistic-concurrency guard
  * (of two writers racing to the same version number, exactly one
  * wins the exclusive create; the loser gets
  * [[ConcurrentCommitException]] and must retry on the new snapshot).
  *
  * This is the transactional upgrade of `Cdc.applyPartitioned`'s
  * dynamic partition overwrite: [[overwritePartitions]] swaps the
  * touched partitions' file sets in ONE commit — untouched partitions
  * keep their exact files (not rewritten, not even re-listed from
  * storage), and a reader never observes some partitions new and
  * others old.
  *
  * At 100 TB: the manifest carries file-level metadata only (path +
  * partition value — the object-store-listing bottleneck this design
  * exists to avoid); data files never move after write; partition
  * pruning happens manifest-side before Spark ever lists a file.
  */
object TxTable {

  /** One live data file. `stats` is [[FileStats]]'s encoded per-column
    * min/max/nullCount blob ("" = none — legacy entries and error
    * paths degrade to "never pruned", not to failure). `size` is the
    * file length in bytes (-1 = unknown — pre-size manifests); with it
    * the manifest alone carries everything a scan plan needs, so the
    * read path ([[GraftFileIndex]]) never stats a data file.
    */
  final case class Entry(
      relPath: String, partition: String, stats: String = "",
      size: Long = -1L)

  /** One POSITION-DELETE file (the merge-on-read leg): a parquet of
    * `(file_key STRING, pos BIGINT)` rows naming data-file rows that
    * are DELETED in this snapshot without their files being rewritten.
    * `file_key` is the data file's canonical key ([[MergeOnRead
    * .fileKey]] — the `data/…` suffix of its path, stable across
    * clones and root moves); `pos` is the row's physical position in
    * the file (parquet `_metadata.row_index`). Every read path
    * anti-joins the union of a snapshot's delete files, so a DELETE
    * whose keys scatter across all buckets writes bytes ∝ DELETED
    * rows, not table size — the copy-on-write complement.
    * `rows`/`size` are carried for accounting (-1 = unknown).
    *
    * `keys` lists the data-file keys the file's rows cover when the
    * writer could track them cheaply (bounded at [[DeltaDml.DvKeyCap]]
    * — the trickle-DML case, where one statement touches few files);
    * past the cap the writer records `bloom` instead (encoded
    * [[DvBloom]] over the covered keys). Both empty = unknown, the
    * conservative "may cover any file". The delta scan uses them to
    * scope each partition's executor-side DV load to the delete files
    * that can actually touch it — exact for key lists,
    * false-positive-only for blooms (extra footer probes, never a
    * missed delete) — so a long DML history doesn't cost every
    * partition a probe per delete file.
    */
  final case class DvEntry(
      relPath: String, size: Long = -1L, rows: Long = -1L,
      keys: Seq[String] = Nil, bloom: Option[String] = None)

  /** One committed version of a table: what a manifest records
    * ([[render]] writes it, [[parseManifest]] reads it back).
    *
    *   - `txns` is the cumulative streaming-transaction watermark map
    *     (txnId → highest applied batchId), carried forward by every
    *     commit — the Delta `txn` action pattern that gives
    *     [[txnAppend]] (and through it `writeStream.format("graft")`)
    *     exactly-once semantics across crash-replay.
    *   - `checks` is the CHECK-constraint map (name → boolean SQL
    *     expression), likewise carried forward and enforced by every
    *     data-writing commit ([[addCheck]]).
    *   - `ts` is the commit wall-clock in millis, stamped by
    *     [[commit]] (-1 on pre-timestamp manifests).
    *   - `dvs` are the position-delete files ([[DvEntry]]).
    *   - `aliases` maps a column's CURRENT name to the historical names
    *     data files may still carry ([[renameColumn]] is
    *     metadata-only, so files written before a rename keep the old
    *     physical column); reads coalesce across them. Cleared by any
    *     full rewrite.
    *   - `layout` is this VERSION's layout spec ([[Layout]] grammar —
    *     `col` or `bucket(N,cols…)`): a table's placement can change
    *     over its life (`CALL relayout`), and pruning/SPJ contracts
    *     must bind each version's entries to the spec THEY were
    *     written under — a time-travel read of a pre-relayout version
    *     with the current spec would mis-prune. `None` falls back to
    *     the catalog sidecar (pre-layout-tracking tables, never
    *     relayouted).
    *   - `props` are the user-facing TABLE PROPERTIES of this version
    *     (SQL `TBLPROPERTIES` / `ALTER TABLE SET TBLPROPERTIES`),
    *     carried forward by every commit and versioned like everything
    *     else — `write.dml.mode=mor` is the flagship use (per-table
    *     merge-on-read default for SQL DML).
    *   - `schemaJson` is the schema's FULL representation (Spark's
    *     StructType JSON — carries per-field METADATA the DDL string
    *     cannot: column DEFAULT expressions, comments). Readers prefer
    *     it; `schemaDdl` stays authoritative for pre-JSON manifests
    *     and remains the human-readable/equality form.
    *
    * A commit states only what it changes: `cur.copy(version =
    * cur.version + 1, …)` carries every other field forward.
    */
  final case class Snapshot(
      version: Long, schemaDdl: String, entries: Seq[Entry],
      txns: Map[String, Long] = Map.empty,
      checks: Map[String, String] = Map.empty,
      ts: Long = -1L,
      dvs: Seq[DvEntry] = Nil,
      aliases: Map[String, Seq[String]] = Map.empty,
      layout: Option[String] = None,
      props: Map[String, String] = Map.empty,
      schemaJson: Option[String] = None) {

    /** The declared schema, metadata included when available. */
    lazy val schema: StructType = schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(StructType.fromDDL(schemaDdl))

    /** This snapshot declaring `s` in both persisted forms:
      * nullability-normalized, metadata kept in the JSON only.
      */
    def withSchema(s: StructType): Snapshot = {
      val n = nullableType(s).asInstanceOf[StructType]
      // the DDL form is METADATA-FREE: Spark 4 renders DEFAULT
      // clauses into toDDL but fromDDL cannot parse them back, so a
      // metadata-bearing DDL would poison every parse/equality site —
      // defaults and comments live ONLY in the JSON form
      copy(schemaDdl = stripMetadata(n).asInstanceOf[StructType].toDDL,
        schemaJson = Some(n.json))
    }
  }

  /** Drop per-field metadata (recursively) — the DDL-rendering and
    * DDL-equality form. Defaults/comments stay in the JSON schema.
    */
  private def stripMetadata(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = stripMetadata(f.dataType),
          metadata = Metadata.empty)))
      case a: ArrayType => a.copy(elementType = stripMetadata(a.elementType))
      case m: MapType => m.copy(keyType = stripMetadata(m.keyType),
        valueType = stripMetadata(m.valueType))
      case other => other
    }
  }

  final class ConcurrentCommitException(v: Long)
    extends RuntimeException(
      s"manifest v$v already committed by a concurrent writer; " +
        "re-read the table and retry the transaction")

  /** Resolve a manifest entry's path: relative to the table root
    * normally, ABSOLUTE for external entries — a shallow clone
    * ([[cloneTable]]) references the source table's immutable files in
    * place. Every reader resolves through here; every physical
    * mutation (vacuum's delete candidates, writeData's fresh files) is
    * root-scoped by construction, so external files can never be
    * touched through the clone.
    */
  def entryPath(root: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$root/$rel"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifest")

  private val ManifestRe = "v(\\d+)\\.manifest".r

  /** Manifest reads performed (test hook: TxSpec asserts a snapshot
    * resolve costs ONE manifest read, not O(history)).
    */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  private def readText(f: FileSystem, p: Path): String = {
    manifestReads.incrementAndGet()
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** [[readText]] for manifests a concurrent writer may still be
    * streaming: any read failure (ChecksumException on a local FS
    * whose .crc trails the data, FileNotFound when a torn manifest is
    * recovered mid-list, EOF races) reads as "" — which never ends in
    * `#eof`, i.e. exactly the torn-manifest case the resolve loops
    * already skip. Only the resolution paths use this; an EXPLICIT
    * [[snapshot]] read of a named version still propagates, because
    * there an unreadable manifest is an answer, not a race.
    */
  private def readTextIfComplete(f: FileSystem, p: Path): String =
    try readText(f, p) catch { case _: java.io.IOException => "" }

  /** Resolve the CURRENT snapshot with ONE manifest read in the
    * steady state: list the manifest directory (names only — no file
    * content), walk version numbers descending, and return the first
    * manifest that parses complete. Torn manifests (crashed writers)
    * cost one extra read each, and they are bounded by writer crashes,
    * not by history length — unlike [[versions]], which reads EVERY
    * historical manifest's full text and is O(history × manifest size)
    * driver work per call. At 100 TB commit rates (a CDC apply per
    * minute = half a million manifests a year) every read-path resolve
    * goes through here; [[versions]] stays for the history-enumerating
    * ops (vacuum, time travel listing) that genuinely need all of it.
    * History LENGTH is bounded operationally by [[pruneHistory]] on a
    * maintenance cadence. Manifest WIDTH (one text line per live file,
    * parsed into one driver-side `Entry` each) is the remaining
    * O(live files) driver state — `history`'s `manifest_bytes` column
    * and the rehearsal's manifest-width entry record where that
    * ceiling sits; the sharding seam when a table outgrows it is this
    * function and [[parseManifest]]: a `v<N>.manifest` that lists
    * child shard files (hash-ranged by file key, rewritten
    * copy-on-write only for shards a commit touches) keeps the commit
    * point a single atomic rename while planning reads only the
    * shards a query's pruning needs.
    */
  def currentSnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val f = fs(spark, root)
    if (!f.exists(manifestDir(root))) return None
    f.listStatus(manifestDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(n) => n.toLong }
      .sorted(Ordering[Long].reverse)
      .iterator
      .map(v => (v, readTextIfComplete(f, new Path(manifestDir(root), s"v$v.manifest"))))
      .collectFirst { case (v, text) if text.endsWith("#eof\n") =>
        parseManifest(v, text, root)
      }
  }

  private[sources] def requireSnapshot(spark: SparkSession, root: String): Snapshot =
    currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $root"))

  /** All committed versions, ascending (empty for a fresh root). A
    * manifest is committed only once its `#eof` sentinel is on disk —
    * exclusive-create makes the file name visible before its content
    * is complete, so a crash (or an in-flight writer) mid-manifest
    * reads as "version not yet committed", never as a torn snapshot.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(manifestDir(root))) return Seq.empty
    f.listStatus(manifestDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(n) => n.toLong }
      .filter(v => readTextIfComplete(f, new Path(manifestDir(root), s"v$v.manifest"))
        .endsWith("#eof\n"))
      .sorted
  }

  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    currentSnapshot(spark, root).map(_.version)

  /** TIMESTAMP AS OF resolution: the latest version whose commit time
    * is ≤ `tsMillis`. Commit times are made MONOTONE over the version
    * walk before comparing (each adjusted to at least its
    * predecessor's + 1ms — the Delta history convention), so writer
    * clock skew can reorder nothing: answers degrade to version
    * granularity, never to wrong order. Pre-timestamp manifests
    * (`ts = -1`) inherit their predecessor's adjusted time (the
    * oldest default to 0 — i.e. "before any queryable instant").
    * O(history) driver work, like every history-enumerating op here.
    */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val snaps = versions(spark, root).map(v => snapshot(spark, root, v))
    require(snaps.nonEmpty, s"no committed manifest under $root")
    var prevAdj = 0L
    val adjusted = snaps.map { s =>
      val adj = if (s.ts < 0) prevAdj else math.max(s.ts, prevAdj + 1)
      prevAdj = adj
      (s.version, adj)
    }
    val hit = adjusted.filter(_._2 <= tsMillis)
    require(hit.nonEmpty,
      s"no version at or before timestamp $tsMillis under $root " +
        s"(earliest commit: ${adjusted.head._2})")
    hit.last._1
  }

  /** DESCRIBE HISTORY: one row per committed version — version,
    * live-file count, live bytes (-1 sizes counted as 0), files/bytes
    * added vs the previous version, streaming watermarks and CHECK
    * constraints as sorted `k=v` strings, and the manifest's own byte
    * size (`manifest_bytes` — the driver-state ceiling tripwire: the
    * manifest text re-lists every live file, so this column is the
    * number that grows toward the single-file-manifest seam at very
    * wide tables; see the sharding note on [[currentSnapshot]]).
    * Driver work is O(history), the documented cost of every
    * history-enumerating op here.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val manifestBytes: Map[Long, Long] =
      if (!f.exists(manifestDir(root))) Map.empty
      else f.listStatus(manifestDir(root)).toSeq.flatMap { st =>
        st.getPath.getName match {
          case ManifestRe(n) => Some(n.toLong -> st.getLen)
          case _ => None
        }
      }.toMap
    val snaps = versions(spark, root).map(v => snapshot(spark, root, v))
    val rows = snaps.zip(None +: snaps.map(Some(_))).map { case (s, prev) =>
      val prevPaths = prev.map(_.entries.map(_.relPath).toSet).getOrElse(Set.empty)
      val added = s.entries.filterNot(e => prevPaths.contains(e.relPath))
      (s.version, s.entries.size.toLong,
        s.entries.map(e => math.max(e.size, 0L)).sum,
        added.size.toLong, added.map(e => math.max(e.size, 0L)).sum,
        s.txns.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
        s.checks.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
        s.ts,
        // the manifest-RECORDED spec (null = pre-layout-tracking:
        // the creation sidecar applies; a relayout is visible as the
        // version where this flips)
        s.layout.orNull,
        s.props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","),
        manifestBytes.getOrElse(s.version, 0L))
    }
    rows.toDF("version", "files", "bytes", "files_added", "bytes_added",
      "txns", "checks", "ts_millis", "layout", "props", "manifest_bytes")
  }

  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** Parse one manifest's text — [[render]]'s inverse. Line 1 is
    * `#schema=<DDL>`; the other `#`-prefixed lines are metadata, in
    * any order (UNKNOWN `#` lines are skipped, so future metadata
    * never breaks an old reader); every other line is one live data
    * file; `#eof` ends a COMPLETE manifest.
    */
  private[graft] def parseManifest(version: Long, text: String, root: String): Snapshot = {
    if (!text.endsWith("#eof\n"))
      throw new IllegalStateException(
        s"manifest v$version under $root is incomplete (no #eof) — " +
          "in-flight or crashed commit, not a committed snapshot")
    val lines = text.split("\n").toSeq.filter(_.nonEmpty).filterNot(_ == "#eof")
    val ddl = lines.head.stripPrefix("#schema=")
    val (meta, entryLines) = lines.tail.partition(_.startsWith("#"))
    def field(tag: String): Seq[String] =
      meta.filter(_.startsWith(tag)).map(_.stripPrefix(tag))
    // `key:value` pairs, both halves url-encoded
    def pairs(tag: String): Map[String, String] = field(tag).map { l =>
      val Array(k, v) = l.split(":", 2)
      dec(k) -> dec(v)
    }.toMap
    // `#txn=<urlenc id>:<batchId>` — the streaming watermark map
    val txns = pairs("#txn=").map { case (id, b) => id -> b.toLong }
    val entries = entryLines.map { l =>
      // trailing fields (stats, size) are optional: manifests written
      // before data skipping carry 2 fields, pre-size manifests carry
      // 3 — both stay readable (never pruned / size unknown)
      l.split("\t", 4) match {
        case Array(rel, part, stats, size) =>
          Entry(rel, part, stats, Try(size.toLong).getOrElse(-1L))
        case Array(rel, part, stats) => Entry(rel, part, stats)
        case Array(rel, part) => Entry(rel, part)
      }
    }
    // `#dv=<urlenc relPath>:<size>:<rows>[:<urlenc key1,urlenc key2…>]`
    // — the merge-on-read position-delete files of this snapshot
    // (absent pre-DV: empty; the optional 4th field is the covered
    // file-key list, absent on pre-key manifests → unknown/all). A 4th
    // field starting with `~` is instead a base64 [[DvBloom]] over the
    // covered keys (wide DMLs past DvKeyCap — base64 never starts
    // with `~`, and url-encoded keys never contain it).
    val dvs = field("#dv=").map { l =>
      val Array(rel, size, rows, rest @ _*) = l.split(":", 4)
      val d = DvEntry(dec(rel),
        Try(size.toLong).getOrElse(-1L), Try(rows.toLong).getOrElse(-1L))
      rest.headOption match {
        case Some(b) if b.startsWith("~") => d.copy(bloom = Some(b.drop(1)))
        case Some(ks) => d.copy(keys = ks.split(",").toSeq.filter(_.nonEmpty).map(dec))
        case None => d
      }
    }
    // `#alias=<urlenc current>:<urlenc old1,old2>` — rename history
    val aliases = field("#alias=").map { l =>
      val Array(cur, olds) = l.split(":", 2)
      dec(cur) -> olds.split(",").toSeq.filter(_.nonEmpty).map(dec)
    }.toMap
    Snapshot(version, ddl, entries, txns, pairs("#check="),
      field("#ts=").headOption.map(_.toLong).getOrElse(-1L), dvs, aliases,
      // `#layout=` is absent on pre-layout-tracking manifests (sidecar
      // fallback), `#schemaJson=` on pre-JSON ones
      field("#layout=").headOption.map(dec), pairs("#prop="),
      field("#schemaJson=").headOption.map(dec))
  }

  /** The manifest text of `s` — [[parseManifest]]'s inverse, the one
    * place the format is written: `#schema`, `#schemaJson`, `#ts`,
    * `#txn`, `#check`, `#dv`, `#alias`, `#layout`, `#prop` (maps in
    * key order), then one `relPath<TAB>partition<TAB>stats<TAB>size` line per
    * entry and the `#eof` sentinel.
    */
  private[graft] def render(s: Snapshot): String = {
    def pairs(tag: String, m: Map[String, String]): Seq[String] =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$tag${enc(k)}:${enc(v)}" }
    val lines =
      Seq(s"#schema=${s.schemaDdl}") ++
        s.schemaJson.map(j => s"#schemaJson=${enc(j)}") ++
        Seq(s"#ts=${s.ts}") ++
        s.txns.toSeq.sortBy(_._1).map { case (id, b) => s"#txn=${enc(id)}:$b" } ++
        pairs("#check=", s.checks) ++
        s.dvs.map { d =>
          val keys =
            if (d.keys.nonEmpty) d.keys.map(enc).mkString(":", ",", "")
            else d.bloom.map(b => s":~$b").getOrElse("")
          s"#dv=${enc(d.relPath)}:${d.size}:${d.rows}$keys"
        } ++
        s.aliases.toSeq.sortBy(_._1).map { case (cur, olds) =>
          s"#alias=${enc(cur)}:${olds.map(enc).mkString(",")}"
        } ++
        s.layout.map(l => s"#layout=${enc(l)}") ++
        pairs("#prop=", s.props) ++
        s.entries.map(e => s"${e.relPath}\t${e.partition}\t${e.stats}\t${e.size}") :+
        "#eof"
    lines.mkString("", "\n", "\n")
  }

  /** Parse one committed manifest. Refuses a manifest without its
    * `#eof` sentinel — that file is an in-flight or crashed commit,
    * not a snapshot.
    */
  def snapshot(spark: SparkSession, root: String, version: Long): Snapshot = {
    val f = fs(spark, root)
    val p = new Path(manifestDir(root), s"v$version.manifest")
    parseManifest(version, readText(f, p), root)
  }

  /** Read the CURRENT snapshot (empty-but-typed DataFrame for a table
    * with a schema and no live files; error for an uninitialized root).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readEntries(spark, root, requireSnapshot(spark, root), identity)

  /** Time travel: read an exact committed version's file set. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    readEntries(spark, root, snapshot(spark, root, version), identity)

  /** MANIFEST-SIDE partition pruning: read only the file sets of the
    * named partition values — no other file is listed, opened, or even
    * mentioned to Spark. This is the pruning the manifest exists for:
    * at 100 TB a CDC batch touches a handful of partitions, and the
    * scan plan should carry exactly those paths. Values are the
    * partition column's string form (pre-escaping), as in
    * [[overwritePartitions]]'s `alsoDropValues`.
    */
  def readPartitions(
      spark: SparkSession, root: String, partitionCol: String,
      values: Seq[String]): DataFrame =
    readPartitionsOf(spark, root, requireSnapshot(spark, root),
      partitionCol, values)

  /** [[readPartitions]] pinned to an already-resolved snapshot — the
    * transactional read-modify-write shape: resolve once, reconcile
    * against exactly that version, commit with the same version as
    * `expectedVersion`. Re-resolving inside each step would let a
    * concurrent commit slide in between read and write unnoticed.
    */
  def readPartitionsOf(
      spark: SparkSession, root: String, s: Snapshot,
      partitionCol: String, values: Seq[String]): DataFrame = {
    val wanted = values.map(v => s"$partitionCol=" +
      org.apache.spark.sql.GraftColumnBridge.escapePartitionValue(v)).toSet
    readEntries(spark, root, s, _.filter(e => wanted.contains(e.partition)))
  }

  /** STATS-PRUNED read — file-level data skipping: drop every data
    * file whose manifest stats ([[FileStats]]) prove `cond` selects
    * nothing from it, scan only the survivors, and re-apply the full
    * `cond` row-by-row on them. Correct for ANY `cond` (pruning uses
    * only the provably-empty conjuncts; unknown stats keep the file),
    * fast when the predicate ranges over a column the file layout is
    * clustered on — a sort-keyed or range-partitioned write makes
    * per-file ranges disjoint, so a point/range predicate reduces the
    * scan to the matching files before Spark lists a single path.
    * Subsumes manifest-side partition pruning: the partition column is
    * a real column in the data files, so its stats prune exactly the
    * non-matching partitions' files.
    */
  def readWhere(spark: SparkSession, root: String, cond: org.apache.spark.sql.Column): DataFrame = {
    val s = requireSnapshot(spark, root)
    readEntries(spark, root, s, _ => statsPrune(spark, s, cond)).filter(cond)
  }

  /** The entries a [[readWhere]] of `cond` would scan (test hook +
    * metadata API — lets a spec assert file-level skipping without
    * instrumenting the scan). Normalizes the predicate ONCE, then
    * evaluates the per-file skip decision driver-side over manifest
    * entries only.
    */
  private[graft] def statsPrune(
      spark: SparkSession, s: Snapshot,
      cond: org.apache.spark.sql.Column): Seq[Entry] = {
    val schema = s.schema
    val norm = FileStats.normalize(spark, schema, cond)
    s.entries.filterNot(e => FileStats.provesEmpty(norm, schema, e.stats))
  }

  private def readEntries(
      spark: SparkSession, root: String, s: Snapshot,
      pick: Seq[Entry] => Seq[Entry]): DataFrame =
    // snapshot-faithful read: position deletes anti-joined, renamed
    // columns coalesced across their historical names (both no-ops on
    // a plain snapshot)
    MergeOnRead.mergedRead(spark, root, s, pick(s.entries))

  /** Write `df`'s rows as immutable data files (NOT yet visible — no
    * manifest references them) and return their entries. Partitioned
    * by `partitionCol` when given, so [[overwritePartitions]] can swap
    * file sets partition-by-partition.
    */
  private[sources] def writeData(
      df: DataFrame, root: String, partitionCol: Option[String]): Seq[Entry] = {
    val spark = df.sparkSession
    val uuid = java.util.UUID.randomUUID().toString
    val rel = s"data/$uuid"
    val dir = s"$root/$rel"
    // partition DIRECTORIES come from a duplicated column: Spark's
    // partitionBy strips the partition column from the data files, but
    // manifest-listed reads skip directory discovery — the real column
    // must stay inside the parquet. The duplicate exists only as the
    // directory name.
    // `partitionCol` is a layout SPEC ([[Layout]]): a plain column
    // name (identity) or bucket(N,col) (hash buckets)
    partitionCol match {
      case Some(spec) =>
        val withPart = df.withColumn("__gtx_part", Layout.dirColumn(df, spec))
        // bucket layouts pre-place rows by bucket id before the write:
        // without it every task writes a file for every bucket it sees
        // (tasks × N small files per append — the classic bulk-load
        // small-files failure at scale). REBALANCE (not a plain
        // repartition) is the scale-correct placement: AQE coalesces a
        // small append into few tasks (one file per occupied bucket)
        // but SPLITS an oversized bucket across tasks, so a 100 TB
        // CTAS into 256 buckets is not throttled to 256 giant
        // single-file tasks — files stay advisory-sized, possibly
        // several per bucket, which is exactly what compact would
        // produce anyway. One extra shuffle of the appended rows (the
        // Iceberg hash-distribution-mode trade). Identity layouts keep
        // the unshuffled path: value skew would collapse parallelism.
        val placed = Layout.parse(spec) match {
          case _: Layout.Bucket =>
            withPart.hint("rebalance",
              org.apache.spark.sql.functions.col("__gtx_part"))
          case _ => withPart
        }
        placed.write.partitionBy("__gtx_part").parquet(dir)
      case None => df.write.parquet(dir)
    }
    val f = fs(spark, root)
    // relativize against the qualified table root (same rule vacuum
    // uses), not by substring search — immune to roots whose own path
    // contains "data/"
    val rootPrefix = {
      val p = f.makeQualified(new Path(root)).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val it = f.listFiles(new Path(dir), true)
    val out = scala.collection.mutable.Buffer.empty[Entry]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) {
        val full = f.makeQualified(st.getPath).toUri.getPath
        val relPath = full.stripPrefix(rootPrefix)
        val part = partitionCol.map { spec =>
          val name = Layout.parse(spec).partName
          relPath.split("/").find(_.startsWith("__gtx_part="))
            .map(seg => name + seg.stripPrefix("__gtx_part"))
            .getOrElse("")
        }.getOrElse("")
        out += Entry(relPath, part, size = st.getLen)
      }
    }
    withFooterStats(spark, root, out.toSeq)
  }

  /** `entries` with their [[FileStats]] read from each file's parquet
    * footer — the one commit-time stats step of every data-writing
    * path ([[writeData]] and the SQL row-level writes). Footer-only
    * reads, bounded by THIS commit's file count (see the FileStats
    * scaladoc for the 100 TB story). Footers are independent metadata
    * reads: a serial loop pays file-open latency × file count on the
    * driver (a bucket(16) commit = 16 round-trips), so they go through
    * a small bounded pool — same work, wall-clock ∝ ceil(files / pool)
    * instead of files. An unreadable footer records no stats ("").
    */
  private[sources] def withFooterStats(
      spark: SparkSession, root: String, entries: Seq[Entry]): Seq[Entry] =
    if (entries.isEmpty) entries
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      // daemon threads + shutdownNow: a read hung past the bound
      // below must not keep the JVM alive
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, entries.size), { (r: Runnable) =>
          val t = new Thread(r, "graft-footer-stats")
          t.setDaemon(true)
          t
        })
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        // BOUNDED wait (VERDICT r18 item 9): a hung filesystem read must
        // fail the commit loudly, not hang it forever. 10 minutes is
        // orders of magnitude above any healthy footer read (metadata
        // I/O, ~ms each, ≤16 in flight) — hitting it means the
        // filesystem is sick and the commit should surface that.
        try Await.result(
          Future.traverse(entries) { e => Future {
            val stats = scala.util.Try(
              FileStats.encode(
                FileStats.forFile(conf, new Path(s"$root/${e.relPath}"))))
              .getOrElse("")
            e.copy(stats = stats)
          }},
          scala.concurrent.duration.Duration(10, "min"))
        catch { case _: java.util.concurrent.TimeoutException =>
          throw new java.io.IOException(
            s"TxTable commit: footer-stats reads for ${entries.size} " +
              s"files under $root did not complete within 10 minutes — " +
              "filesystem metadata reads are hung; failing the commit")
        }
      } finally pool.shutdownNow()
    }

  /** The single commit point: stamp `next.ts`, [[render]] it, and
    * EXCLUSIVE-create `v<next.version>.manifest` with that text —
    * [[parseManifest]] reads back exactly the snapshot written.
    * `FileSystem.create(path, overwrite=false)` is the
    * mutual-exclusion primitive: exactly one of two writers racing to
    * the same version number gets the create; the loser sees
    * [[ConcurrentCommitException]] (its data files stay orphaned and
    * vacuumable, the table is untouched). Rename was deliberately NOT
    * used here: Hadoop's RawLocalFileSystem delegates to POSIX
    * rename(2), which silently REPLACES an existing destination — two
    * racing writers would both "succeed" and one commit would be lost.
    *
    * A reader can observe the manifest file mid-write (create is
    * exclusive, not atomic-content). [[snapshot]] guards this: a
    * manifest is only valid once its final `#eof` line is present;
    * incomplete manifests are read as "version not yet committed".
    *
    * Object-store boundary: this protocol needs an exclusive-create
    * (or atomic-rename-without-replace) primitive. HDFS and POSIX
    * `O_CREAT|O_EXCL` provide it. Plain S3 does NOT — PUT
    * unconditionally replaces — so there the commit point must be a
    * conditional PUT (`If-None-Match: *`, supported since 2024) or an
    * external lock/log (the published Delta-on-S3 approach: DynamoDB
    * as the mutual-exclusion table). The file layout stays identical;
    * only this one primitive is storage-specific.
    */
  private def commit(spark: SparkSession, root: String, next: Snapshot): Long = {
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    val finalP = new Path(manifestDir(root), s"v${next.version}.manifest")
    // The exclusive commit point. On HDFS, create(overwrite=false) is
    // an ATOMIC server-side O_EXCL and the catch below is the whole
    // story. Hadoop's LOCAL filesystem, however, implements it as
    // exists()-then-open — check-then-act, NOT atomic: two racing
    // writers can both "win" the same version and one commit silently
    // vanishes (caught by TxSpec's contention test). For file:// the
    // commit point is therefore NIO CREATE_NEW — a true O_CREAT|O_EXCL
    // straight to the kernel. (Side benefit: no trailing .crc file, so
    // concurrent readers can't hit a mid-write ChecksumException.)
    val os: java.io.OutputStream =
      try {
        f match {
          case _: org.apache.hadoop.fs.LocalFileSystem |
               _: org.apache.hadoop.fs.RawLocalFileSystem =>
            java.nio.file.Files.newOutputStream(
              java.nio.file.Paths.get(f.makeQualified(finalP).toUri.getPath),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          case _ =>
            f.create(finalP, false)
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new ConcurrentCommitException(next.version)
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new ConcurrentCommitException(next.version)
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("already exists") =>
          throw new ConcurrentCommitException(next.version)
      }
    // commit wall-clock (millis) — read-side TIMESTAMP AS OF
    // resolution makes these monotone (see versionAt), so writer clock
    // skew degrades to version granularity, never to a wrong-order answer
    try os.write(render(next.copy(ts = System.currentTimeMillis()))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    next.version
  }

  /** Initialize a table root with a SCHEMA and no data files — the
    * SQL `CREATE TABLE` shape ([[GraftCatalog]] uses it; the first
    * append/insert provides the rows). One metadata-only commit.
    *
    * NEVER destructive: a CREATE TABLE whose name collides with a
    * pre-existing directory (a namespace full of tables, stray data)
    * must refuse, not erase the subtree. Destructive reinit is
    * reserved for the explicit programmatic [[create]](df, root) API.
    */
  def createEmpty(
      spark: SparkSession, root: String, schema: StructType,
      layout: Option[String] = None,
      props: Map[String, String] = Map.empty): Long = {
    requireSettable(props.keys, "createEmpty")
    requireAbsentOrEmpty(spark, root, "createEmpty")
    commit(spark, root,
      Snapshot(0L, "", Nil, layout = layout, props = props).withSchema(schema))
  }

  /** Property keys the engine computes itself — never user-settable
    * ([[GraftV2Table.properties]] surfaces them read-only).
    */
  private val ReservedProps =
    Set("provider", "location", "version", "partitionCol", "owner",
      "external", "comment")

  private def requireSettable(keys: Iterable[String], op: String): Unit =
    keys.foreach { k =>
      require(!ReservedProps.contains(k) && !k.startsWith("check."),
        s"$op: property '$k' is engine-computed and read-only")
    }

  /** `ALTER TABLE … ALTER COLUMN c SET/DROP DEFAULT`: one
    * metadata-only commit updating the field's CURRENT_DEFAULT
    * metadata (future INSERTs resolve it; existing rows keep their
    * real values — EXISTS_DEFAULT, the backfill form, is creation's
    * business and untouched here). `None` drops the default.
    */
  def setColumnDefault(
      spark: SparkSession, root: String, column: String,
      defaultSql: Option[String]): Long = {
    val cur = requireSnapshot(spark, root)
    val schema = cur.schema
    require(schema.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"setColumnDefault: no such column $column")
    // validate: a DEFAULT must be a CONSTANT expression — analyzed
    // with no columns in scope, so a stray column reference refuses
    // here instead of poisoning every future INSERT
    defaultSql.foreach { sqlText =>
      spark.sql(s"SELECT $sqlText").queryExecution.analyzed
    }
    val evolved = StructType(schema.fields.map { f =>
      if (!f.name.equalsIgnoreCase(column)) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        defaultSql match {
          case Some(sqlText) => b.putString("CURRENT_DEFAULT", sqlText)
          case None => b.remove("CURRENT_DEFAULT")
        }
        f.copy(metadata = b.build())
      }
    })
    commit(spark, root, cur.copy(version = cur.version + 1).withSchema(evolved))
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: one metadata-only
    * commit. Properties are versioned like everything else — time
    * travel shows each version's own map, and restore reverts it.
    */
  def setProperties(
      spark: SparkSession, root: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    requireSettable(set.keys ++ unset, "setProperties")
    val cur = requireSnapshot(spark, root)
    commit(spark, root,
      cur.copy(version = cur.version + 1, props = cur.props -- unset ++ set))
  }

  /** Refuse to initialize `root` when the path already exists with any
    * content — the shared guard for the non-destructive create shapes
    * (SQL CREATE TABLE, CALL clone). An empty directory is fine.
    */
  private def requireAbsentOrEmpty(
      spark: SparkSession, root: String, op: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (f.exists(p)) {
      require(f.getFileStatus(p).isDirectory,
        s"$op: target $root exists and is a file")
      require(f.listStatus(p).isEmpty,
        s"$op: target $root already exists and is non-empty — refusing " +
          "to overwrite (drop or clear it first; programmatic " +
          "TxTable.create(df, root) is the explicit destructive reinit)")
    }
  }

  /** Initialize (or reinitialize) a table root with `df` as version 0. */
  def create(
      df: DataFrame, root: String,
      partitionCol: Option[String] = None): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    f.delete(new Path(root), true)
    val entries = writeData(df, root, partitionCol)
    // persist the layout spec (as catalog CREATE TABLE does), so
    // later row-level appends (updateWhere/mergeInto post-images)
    // keep this table's placement without the caller re-stating it
    partitionCol.foreach(GraftCatalog.writePartitionCol(spark, root, _))
    commit(spark, root,
      Snapshot(0L, "", entries, layout = partitionCol).withSchema(df.schema))
  }

  /** Append-only commit: new files become visible atomically alongside
    * every existing file. A lost optimistic race (a concurrent writer
    * took the version) is RETRIED on the fresh snapshot, bounded:
    * appends commute, the data files are written AT MOST once, and
    * schema/CHECK validation re-runs against each fresh snapshot (so
    * an append racing a schema evolution or an ADD CONSTRAINT still
    * refuses correctly — CHECK data passes re-run only when the
    * constraint set actually changed). This is what makes concurrent
    * SQL `INSERT INTO` through [[GraftCatalog]] robust: N racing
    * inserts all land, in N versions.
    */
  def append(
      df: DataFrame, root: String,
      partitionCol: Option[String] = None, maxRetries: Int = 10): Long = {
    val spark = df.sparkSession
    var entries: Seq[Entry] = null       // write data files AT MOST once
    var checkedFor: Map[String, String] = null
    retrying(maxRetries) {
      val cur = requireSnapshot(spark, root)
      requireSchema(df, cur, "append")
      if (checkedFor != cur.checks) requireChecks(df, cur, "append")
      checkedFor = cur.checks
      if (entries == null) entries = writeData(df, root, partitionCol)
      commit(spark, root,
        cur.copy(version = cur.version + 1, entries = cur.entries ++ entries))
    }
  }

  /** IDEMPOTENT append for streaming writers: apply `df` as `txnId`'s
    * batch `batchId` exactly once, no matter how often the call is
    * replayed. The snapshot's [[Snapshot.txns]] watermark decides:
    * `batchId <= watermark(txnId)` means an earlier attempt's commit
    * IS on disk (a crash after manifest commit but before checkpoint
    * commit replays the batch — the at-least-once window every
    * checkpointed sink has), so the replay is a no-op. Otherwise data
    * files are written and the commit carries the advanced watermark
    * in the SAME atomic manifest — data and dedup marker can never
    * disagree. Returns true when this call applied the batch.
    *
    * Lost optimistic races (a concurrent writer took the version) are
    * retried on the fresh snapshot, bounded; the already-applied check
    * re-runs each retry, so a replay racing itself stays exactly-once.
    */
  def txnAppend(
      df: DataFrame, root: String, partitionCol: Option[String],
      txnId: String, batchId: Long, maxRetries: Int = 10): Boolean = {
    require(txnId.nonEmpty, "txnAppend: empty txnId")
    val spark = df.sparkSession
    var entries: Seq[Entry] = null // write data files AT MOST once
    retrying(maxRetries) {
      val cur = requireSnapshot(spark, root)
      val applied = cur.txns.get(txnId).exists(_ >= batchId)
      if (!applied) {
        requireSchema(df, cur, "txnAppend")
        if (entries == null) {
          requireChecks(df, cur, "txnAppend")
          entries = writeData(df, root, partitionCol)
        }
        commit(spark, root, cur.copy(version = cur.version + 1,
          entries = cur.entries ++ entries, txns = cur.txns + (txnId -> batchId)))
      }
      !applied
    }
  }

  /** Run `attempt` until it commits: each [[ConcurrentCommitException]]
    * (a lost optimistic race) re-runs it on a fresh read, up to
    * `maxRetries` retries after the first try; the last loss
    * propagates, and so does every other failure. Cleanup of a lost
    * attempt is the attempt's own: catch, clean, rethrow.
    */
  @scala.annotation.tailrec
  private[sources] def retrying[T](maxRetries: Int)(attempt: => T): T =
    (try Some(attempt)
     catch { case _: ConcurrentCommitException if maxRetries > 0 => None }) match {
      case Some(v) => v
      case None => retrying(maxRetries - 1)(attempt)
    }

  /** ADDITIVE schema evolution, metadata-only: commit a new version
    * whose schema is the current one plus `newCols` (appended), over
    * the SAME data files — no rewrite at any size. Old files simply
    * lack the new columns and the declared-schema read
    * ([[readEntries]] passes the manifest schema to the parquet
    * reader) fills them with NULL, exactly the semantics a widened
    * table should have.
    *
    * Only nullable additions are legal (a required column would make
    * every existing row invalid — the additions are force-nullable
    * here), and names must not collide with existing columns. After
    * evolution, writers must carry the widened schema: a writer still
    * holding the old one is refused by [[requireSchema]] — the loud
    * failure that prevents silently nulling the new column on every
    * append from a stale job. Concurrency: the version bump goes
    * through the same exclusive-create [[commit]] as every other
    * write, so an evolve racing a data commit loses cleanly.
    */
  def addColumns(
      spark: SparkSession, root: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newCols.nonEmpty, "addColumns: no columns given")
    val cur = requireSnapshot(spark, root)
    val schema = cur.schema
    val clash = newCols.map(_.name).intersect(schema.fieldNames.toSeq)
    require(clash.isEmpty,
      s"addColumns: column(s) already exist: ${clash.mkString(", ")}")
    // a historical (renamed-away) name still lives in old data files —
    // adding a column under it would make the alias read ambiguous
    val aliasClash = newCols.map(_.name)
      .filter(n => cur.aliases.values.flatten.exists(_.equalsIgnoreCase(n)))
    require(aliasClash.isEmpty,
      s"addColumns: ${aliasClash.mkString(", ")} is a historical name " +
        "of a renamed column — rewrite the table (CALL rewrite_table) " +
        "before reusing it")
    val dup = newCols.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dup.isEmpty,
      s"addColumns: duplicate new column name(s): ${dup.mkString(", ")}")
    val evolved = StructType(
      schema.fields ++ newCols.map(_.copy(nullable = true)))
    commit(spark, root, cur.copy(version = cur.version + 1).withSchema(evolved))
  }

  /** ADDITIVE evolution's inverse: drop columns, metadata-only. The
    * data files keep the bytes (immutable), but the narrowed declared
    * schema projects them away on every read — and [[compact]]'s
    * rewrite physically sheds them when it next runs. Refuses to drop
    * a column that appears in any entry's partition directory (the
    * partition key is structural: pruning and overwritePartitions
    * address directories by it) and refuses to drop ALL columns.
    */
  def dropColumns(
      spark: SparkSession, root: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: no columns given")
    val cur = requireSnapshot(spark, root)
    val schema = cur.schema
    val missing = names.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"dropColumns: no such column(s): ${missing.mkString(", ")}")
    val partCols = cur.entries.flatMap(e =>
      e.partition.split('=').headOption.filter(_.nonEmpty)).toSet
    val structural = names.filter(partCols.contains)
    require(structural.isEmpty,
      s"dropColumns: ${structural.mkString(", ")} is the partition key " +
        "of existing data — rewrite the table instead")
    val kept = schema.fields.filterNot(f => names.contains(f.name))
    require(kept.nonEmpty, "dropColumns: cannot drop every column")
    // a CHECK referencing a dropped column would poison every later
    // write — refuse the drop while the constraint stands
    requireChecksAnalyze(spark, StructType(kept), cur.checks, Some((n, sql) =>
      s"dropColumns: CHECK constraint $n [$sql] references a dropped " +
        "column — dropCheck it first"))
    commit(spark, root, cur.copy(version = cur.version + 1,
      aliases = cur.aliases -- names).withSchema(StructType(kept)))
  }

  /** RENAME COLUMN, metadata-only: commit a new version whose schema
    * carries the new name over the SAME data files. Old files keep the
    * old physical column; the snapshot records it as an ALIAS
    * ([[Snapshot.aliases]]) and every read coalesces
    * `(new, old₁, old₂, …)` — so no byte is rewritten at any size, and
    * time travel preserves each version's own schema. Aliases persist
    * until a full rewrite ([[rewriteAll]], `CALL rewrite_table`)
    * localizes the new name into the files.
    *
    * Refusals (all loud): renaming a LAYOUT column (identity partition
    * strings and the bucket hash are keyed by name — rewrite the
    * table instead); a target name that collides with a live column
    * or a historical alias; a CHECK constraint referencing the old
    * name (re-create it under the new name first). Copy-on-write DML
    * refuses while aliases are outstanding ([[GraftRowLevelOperation]]
    * reads raw parquet, which would null the renamed column in old
    * files) — `CALL rewrite_table` first.
    */
  def renameColumn(
      spark: SparkSession, root: String, from: String, to: String): Long = {
    val cur = requireSnapshot(spark, root)
    val schema = cur.schema
    require(schema.fieldNames.contains(from),
      s"renameColumn: no such column $from")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn: column $to already exists")
    val aliasNames = cur.aliases.values.flatten.toSet
    require(!aliasNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn: $to is a historical name of a renamed column — " +
        "rewrite the table (CALL rewrite_table) before reusing it")
    val layoutCols = GraftCatalog.layoutOf(spark, root, cur)
      .map(Layout.parse(_).cols).getOrElse(
        cur.entries.flatMap(e =>
          e.partition.split('=').headOption.filter(_.nonEmpty)).distinct)
    require(!layoutCols.exists(_.equalsIgnoreCase(from)),
      s"renameColumn: $from is the table's layout column — partition " +
        "strings and bucket placement key on it; rewrite the table " +
        "under a new layout instead")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    requireChecksAnalyze(spark, renamed, cur.checks, Some((n, sql) =>
      s"renameColumn: CHECK constraint $n [$sql] references $from — " +
        "dropCheck and re-add it under the new name first"))
    // the new name inherits the old name's full alias chain
    val chain = cur.aliases.getOrElse(from, Nil) :+ from
    commit(spark, root, cur.copy(version = cur.version + 1,
      aliases = (cur.aliases - from) + (to -> chain)).withSchema(renamed))
  }

  /** TYPE WIDENING, metadata-only: change a column to a WIDER type
    * over the same data files — Spark's vectorized parquet reader
    * upcasts the narrower physical values at scan time (verified for
    * this whole matrix on 4.1), so no byte moves at any size. The
    * supported widenings are exactly the value-preserving ones:
    * integral up-chain (byte→short→int→long), float→double,
    * int-or-narrower→double, integral→decimal with room, and decimal
    * precision growth at the SAME scale. CHECK constraints re-resolve
    * against the widened schema (values are unchanged, so a passing
    * table keeps passing). Refuses to widen a BUCKET layout column:
    * the murmur3 hash is type-dependent, so old and new placement
    * would disagree.
    */
  def widenColumn(
      spark: SparkSession, root: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val cur = requireSnapshot(spark, root)
    val schema = cur.schema
    require(schema.fieldNames.contains(name),
      s"widenColumn: no such column $name")
    val old = schema(name).dataType
    def widens(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x, y) if x == y => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.scale == 0 && d.precision >= 10 && d.precision <= 18
      case (x: DecimalType, y: DecimalType) =>
        y.scale == x.scale && y.precision > x.precision &&
          y.precision <= 18 // stays INT32/INT64-backed: reader-upcastable
      case _ => false
    }
    require(widens(old, newType),
      s"widenColumn: $old -> $newType is not a supported widening " +
        "(value-preserving upcasts only: integral up-chain, " +
        "float->double, int->double, integral->decimal, decimal " +
        "precision growth at the same scale)")
    GraftCatalog.layoutOf(spark, root, cur).map(Layout.parse).foreach {
      case b: Layout.Bucket if b.cols.exists(_.equalsIgnoreCase(name)) =>
        throw new IllegalArgumentException(
          s"widenColumn: $name is a bucket layout column — the hash is " +
            "type-dependent, so widening would break placement parity; " +
            "rewrite the table under the widened layout instead")
      case _ => ()
    }
    val widened = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    requireChecksAnalyze(spark, widened, cur.checks, Some((n, sql) =>
      s"widenColumn: CHECK constraint $n [$sql] does not analyze " +
        "against the widened schema — dropCheck it first"))
    commit(spark, root, cur.copy(version = cur.version + 1).withSchema(widened))
  }

  /** Analyze each of `checks` over an empty frame of the candidate
    * `schema` — the probe every CHECK-touching DDL runs before it
    * commits, so an unresolvable or non-boolean constraint refuses at
    * DDL time instead of poisoning every later write. A failing CHECK
    * is refused with `refusal(name, sql)`, or with Spark's own
    * analysis error when no refusal text is given.
    */
  private def requireChecksAnalyze(
      spark: SparkSession, schema: StructType, checks: Map[String, String],
      refusal: Option[(String, String) => String]): Unit = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    checks.foreach { case (n, sql) =>
      val analyzed = Try(
        probe.filter(org.apache.spark.sql.functions.expr(sql)).queryExecution.analyzed)
      refusal match {
        case Some(text) => require(analyzed.isSuccess, text(n, sql))
        case None => analyzed.get
      }
    }
  }

  /** Enforce every CHECK constraint on the rows a commit is about to
    * make visible, in ONE pass over the NEW data only (`take(1)` on
    * the violation filter early-exits at the first bad row). ANSI
    * CHECK semantics: a constraint is violated only when its
    * expression evaluates to FALSE — NULL passes (use an explicit
    * `IS NOT NULL` conjunct to refuse nulls).
    */
  private[sources] def requireChecks(df: DataFrame, cur: Snapshot, op: String): Unit = {
    if (cur.checks.isEmpty) return
    import org.apache.spark.sql.functions.{expr, lit}
    val flags = cur.checks.toSeq.sortBy(_._1)
    val anyViolated = flags
      .map { case (_, sql) => expr(sql) <=> lit(false) }
      .reduce(_ || _)
    df.filter(anyViolated)
      .select(flags.map { case (n, sql) => (expr(sql) <=> lit(false)).as(n) }: _*)
      .take(1).headOption.foreach { row =>
        val failed = flags.zipWithIndex.collect {
          case ((n, sql), i) if row.getBoolean(i) => s"$n [$sql]"
        }
        throw new IllegalArgumentException(
          s"$op: CHECK constraint violated by incoming rows — " +
            failed.mkString("; "))
      }
  }

  /** Register a named CHECK constraint (a boolean SQL expression over
    * the table's columns). The EXISTING data is validated first — a
    * constraint the current rows violate is refused, so a committed
    * check always holds over the whole table — then the constraint is
    * committed metadata-only and enforced by every subsequent
    * data-writing commit (append, txnAppend, overwritePartitions,
    * rewriteAll, and the format writer on top of them).
    */
  def addCheck(
      spark: SparkSession, root: String, name: String, sql: String): Long = {
    require(name.nonEmpty, "addCheck: empty constraint name")
    val cur = requireSnapshot(spark, root)
    require(!cur.checks.contains(name),
      s"addCheck: constraint $name already exists [${cur.checks(name)}]")
    // resolve the expression against the schema NOW — an unresolvable
    // or non-boolean expression must fail at ADD time, not at the
    // next append
    requireChecksAnalyze(spark, cur.schema, Map(name -> sql), None)
    val widened = cur.copy(checks = cur.checks + (name -> sql))
    requireChecks(readEntries(spark, root, cur, identity), widened, "addCheck")
    commit(spark, root, widened.copy(version = cur.version + 1))
  }

  /** Remove a CHECK constraint (metadata-only commit). */
  def dropCheck(spark: SparkSession, root: String, name: String): Long = {
    val cur = requireSnapshot(spark, root)
    require(cur.checks.contains(name),
      s"dropCheck: no constraint named $name " +
        s"(have: ${cur.checks.keys.toSeq.sorted.mkString(", ")})")
    commit(spark, root,
      cur.copy(version = cur.version + 1, checks = cur.checks - name))
  }

  /** A commit must match the table's declared schema: divergent
    * parquet files would read back under the manifest schema with
    * silently-nulled or dropped columns. Compared NULLABILITY-
    * normalized ([[declaredDdl]]): name/type divergence is the failure
    * this guards, while nullability flags are advisory over parquet
    * and flip freely through expressions (a coalesce over a NOT NULL
    * column reads back nullable) — requiring them to match would
    * refuse every reconcile-shaped commit.
    */
  private def requireSchema(df: DataFrame, cur: Snapshot, op: String): Unit = {
    // normalize BOTH sides: a manifest written before nullability
    // normalization stores NOT NULL markers in its schemaDdl, and
    // comparing it verbatim would permanently refuse writes to a
    // durable pre-existing table
    val stored = stripMetadata(nullableType(cur.schema))
      .asInstanceOf[StructType].toDDL
    require(declaredDdl(df) == stored,
      s"$op: schema mismatch — table declares [${cur.schemaDdl}] " +
        s"but commit carries [${declaredDdl(df)}]")
  }

  private def declaredDdl(df: DataFrame): String =
    stripMetadata(nullableType(df.schema)).asInstanceOf[StructType].toDDL

  private def nullableType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f =>
          f.copy(dataType = nullableType(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(nullableType(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullableType(m.keyType), nullableType(m.valueType),
          valueContainsNull = true)
      case other => other
    }
  }

  /** ATOMIC dynamic partition overwrite — the CDC apply target shape:
    * every partition present in `df` has its file set replaced by
    * `df`'s rows; untouched partitions keep their exact files. One
    * commit makes the whole multi-partition swap visible.
    *
    * `alsoDropValues` names partition VALUES (pre-escaping, as the
    * partition column's string form) whose file sets are dropped even
    * when `df` carries no rows for them. A plain dynamic overwrite
    * cannot express "this partition is now empty" — an empty result
    * writes no files, so the stale partition would survive. CDC passes
    * the full changed-partition list here and delete-emptied
    * partitions vanish in the same single commit.
    *
    * `expectedVersion` makes the swap a full optimistic transaction:
    * when set, the commit is refused (ConcurrentCommitException, no
    * data visible) if the table has moved past that version — the
    * caller reconciled against a snapshot that is no longer current
    * and must re-read and retry. Without it, a concurrent commit
    * landing between the caller's read and this write would be
    * silently overwritten on the touched partitions.
    */
  def overwritePartitions(
      df: DataFrame, root: String, partitionCol: String,
      alsoDropValues: Seq[String] = Nil,
      expectedVersion: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val cur = expectedVersion.fold(requireSnapshot(spark, root))(
      requirePinned(spark, root, _))
    requireSchema(df, cur, "overwritePartitions")
    requireChecks(df, cur, "overwritePartitions")
    val fresh = writeData(df, root, Some(partitionCol))
    // entry partition strings are Hive-escaped directory segments, so
    // explicit drop values go through the same writer escaping
    val touched = fresh.map(_.partition).toSet ++
      alsoDropValues.map(v => s"$partitionCol=" +
        org.apache.spark.sql.GraftColumnBridge.escapePartitionValue(v))
    val kept = cur.entries.filterNot(e => touched.contains(e.partition))
    // position deletes carry forward: rows for replaced files become
    // inert (their file keys no longer match any live entry), rows
    // for untouched partitions' files keep applying
    commit(spark, root, cur.copy(version = cur.version + 1, entries = kept ++ fresh))
  }

  /** The commit half of a partition-granularity copy-on-write (SQL
    * DELETE / UPDATE / MERGE through [[GraftRowLevelOperation]], and
    * the metadata-only DELETE fast path): atomically replace
    * `dropPartitions`' file sets with `fresh` in ONE manifest commit,
    * pinned to `expectedVersion` — the caller scanned exactly that
    * snapshot's files. `fresh` entries may land in partitions OUTSIDE
    * `dropPartitions` (a MERGE insert, an UPDATE that moves a row
    * across partitions) — those add alongside the kept files. CHECK
    * constraints run over the fresh rows only (untouched rows already
    * passed at their own commit). A no-op (nothing dropped, nothing
    * added) commits nothing.
    *
    * When the table moved past the pin, the commit REBASES instead of
    * failing iff the moves are provably disjoint: the replaced groups'
    * entry sets are byte-identical between the pinned and current
    * snapshots (nobody touched what this commit read), and schema and
    * CHECK constraints are unchanged (the rewrite was planned and
    * validated against them). At 100 TB this is the difference
    * between N independent per-partition maintenance jobs running
    * concurrently and them serializing through spurious
    * whole-statement retries — the same disjoint-commit rule Delta's
    * conflict detection applies. A true conflict (same group touched,
    * or concurrent schema/check change) fails loudly with
    * [[ConcurrentCommitException]], never retried here — hence this
    * loop's own bound instead of [[retrying]].
    */
  private[sources] def commitReplace(
      spark: SparkSession, root: String, expectedVersion: Long,
      dropPartitions: Set[String], fresh: Seq[Entry], op: String): Long = {
    def replacedOf(s: Snapshot): Set[Entry] =
      s.entries.filter(e => dropPartitions.contains(e.partition)).toSet
    @scala.annotation.tailrec
    def rebase(attempt: Int): Long = {
      val cur = requireSnapshot(spark, root)
      if (cur.version != expectedVersion) {
        // the pinned manifest may have been vacuumed concurrently —
        // that is a concurrency conflict (re-read and retry), not an
        // unrelated missing-file error
        val pinned =
          try snapshot(spark, root, expectedVersion)
          catch {
            case e: Exception =>
              val c = new ConcurrentCommitException(cur.version)
              c.addSuppressed(e)
              throw c
          }
        // schemas compare nullability-normalized (the documented
        // equality form) — a raw string compare would spuriously
        // refuse a disjoint rebase across cosmetic DDL differences
        // dvs must match too: a concurrent merge-on-read delete may
        // target rows of the groups this commit rewrites — rebasing
        // over it would silently drop those deletes
        val disjoint =
          replacedOf(pinned) == replacedOf(cur) &&
            normalizedDdl(pinned.schema) ==
              normalizedDdl(cur.schema) &&
            pinned.checks == cur.checks &&
            pinned.dvs == cur.dvs &&
            // a concurrent RE-LAYOUT replaced every group under a new
            // spec — this commit's files were placed under the old one
            pinned.layout == cur.layout &&
            pinned.props == cur.props
        if (!disjoint || attempt >= 3)
          throw new ConcurrentCommitException(cur.version)
      }
      if (dropPartitions.isEmpty && fresh.isEmpty) cur.version
      else {
        requireFreshChecks(spark, root, cur, fresh, op)
        val kept = cur.entries.filterNot(e => dropPartitions.contains(e.partition))
        // lost the version race itself — go round; the disjointness
        // check re-runs against the new current snapshot
        val won =
          try Some(commit(spark, root,
            cur.copy(version = cur.version + 1, entries = kept ++ fresh)))
          catch { case _: ConcurrentCommitException => None }
        won match {
          case Some(v) => v
          case None => rebase(attempt + 1)
        }
      }
    }
    rebase(0)
  }

  /** Nullability-normalized DDL — the schema-equality form every
    * write-path validation uses (see [[requireSchema]]).
    */
  private[sources] def normalizedDdl(schema: StructType): String =
    stripMetadata(nullableType(schema)).asInstanceOf[StructType].toDDL

  /** The current snapshot, refused with [[ConcurrentCommitException]]
    * unless it is still `expectedVersion` — the pin of every commit
    * whose content was computed against one exact snapshot (row
    * positions, a reconciled partition set). The re-read is the pin:
    * the exclusive create of `v<pin+1>` alone would not be, because
    * [[pruneHistory]] can delete that manifest after newer versions
    * land, and the create would then succeed on a moved table.
    */
  private def requirePinned(
      spark: SparkSession, root: String, expectedVersion: Long): Snapshot = {
    val cur = requireSnapshot(spark, root)
    if (cur.version != expectedVersion)
      throw new ConcurrentCommitException(cur.version)
    cur
  }

  /** Enforce `cur`'s CHECK constraints on the rows of `fresh` data
    * files only — the rows the commit adds; everything else already
    * passed at its own commit.
    */
  private def requireFreshChecks(
      spark: SparkSession, root: String, cur: Snapshot, fresh: Seq[Entry],
      op: String): Unit =
    if (cur.checks.nonEmpty && fresh.nonEmpty)
      requireChecks(readEntries(spark, root, cur.copy(entries = fresh),
        identity), cur, op)

  /** Commit a merge-on-read DELETE: data entries unchanged, `addDvs`
    * position-delete files appended — metadata plus bytes ∝ deleted
    * rows, pinned to `expectedVersion` (the delete positions were
    * computed against exactly that snapshot's visible rows; a moved
    * table means recompute, same contract as every pinned commit).
    */
  private[graft] def commitDvAppend(
      spark: SparkSession, root: String, expectedVersion: Long,
      addDvs: Seq[DvEntry],
      txn: Option[(String, Long)] = None): Long = {
    val cur = requirePinned(spark, root, expectedVersion)
    commit(spark, root, cur.copy(version = cur.version + 1,
      txns = cur.txns ++ txn, dvs = cur.dvs ++ addDvs))
  }

  /** Commit a merge-on-read UPDATE: `addDvs` position-deletes mask the
    * matched rows' OLD images and `fresh` data entries append their
    * post-images, in ONE atomic commit — readers see pre- or
    * post-update in full, never a row both masked and not yet
    * re-appended. Write bytes ∝ updated rows (the scattered-key UPDATE
    * complement of [[commitDvAppend]]'s DELETE). Pinned to
    * `expectedVersion` like every position-based commit.
    */
  private[graft] def commitDvUpdate(
      spark: SparkSession, root: String, expectedVersion: Long,
      addDvs: Seq[DvEntry], fresh: Seq[Entry],
      op: String = "updateWhere",
      txn: Option[(String, Long)] = None): Long = {
    val cur = requirePinned(spark, root, expectedVersion)
    requireFreshChecks(spark, root, cur, fresh, op)
    commit(spark, root, cur.copy(version = cur.version + 1,
      entries = cur.entries ++ fresh, txns = cur.txns ++ txn,
      dvs = cur.dvs ++ addDvs))
  }

  /** Commit a DV materialization: swap the DV-affected data files for
    * their merged rewrites and drop EVERY position-delete file (the
    * rewrite applied them; rows for untouched files cannot exist once
    * `dropRelPaths` covers all affected files). Pinned like above.
    */
  private[graft] def commitDvMaterialize(
      spark: SparkSession, root: String, expectedVersion: Long,
      dropRelPaths: Set[String], fresh: Seq[Entry]): Long = {
    val cur = requirePinned(spark, root, expectedVersion)
    commit(spark, root, cur.copy(version = cur.version + 1,
      entries = cur.entries.filterNot(e => dropRelPaths.contains(e.relPath)) ++ fresh,
      dvs = Nil))
  }

  /** Bin-pack compaction — the housekeeping op every manifest table
    * needs at scale: CDC upserts and small appends accumulate
    * many-small-files partitions whose open/footer overhead dominates
    * scan cost long before data volume does. Per partition, every
    * data file smaller than `targetFileBytes` is read back and
    * rewritten as `ceil(bytes/target)` packed files (coalesce — no
    * shuffle); files already at/above target, and partitions with a
    * single small file, are left byte-untouched. ONE commit swaps all
    * rewritten file sets, so readers see pre- or post-compaction in
    * full; rows are identical by construction (read → coalesce →
    * write, no transform). The replaced files stay readable via time
    * travel until [[vacuum]] reclaims them.
    *
    * Returns the new version, or the current one when nothing
    * qualified (no empty commit).
    */
  def compact(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20,
      partitionScope: Option[String] = None): Long = {
    val cur = requireSnapshot(spark, root)
    val f = fs(spark, root)
    val schema = cur.schema
    // manifest-carried sizes; only pre-size legacy entries (-1) cost a
    // filesystem call
    val size = cur.entries.map(e =>
      e -> (if (e.size >= 0) e.size
            else f.getFileStatus(new Path(entryPath(root, e.relPath))).getLen)).toMap
    // optional scope: bin-pack only the named partition group (the
    // hot-partition maintenance shape — CDC upserts fragment a few
    // partitions of a 100 TB table; scoping skips sizing and
    // rewriting decisions for everything else)
    val inScope: TxTable.Entry => Boolean =
      partitionScope match {
        case Some(p) => e => e.partition == p
        case None => _ => true
      }
    val (rewrite, keep) = cur.entries.groupBy(_.partition).toSeq
      .flatMap { case (_, es) =>
        val small =
          if (inScope(es.head)) es.filter(size(_) < targetFileBytes)
          else Seq.empty
        if (small.size >= 2) small.map(e => (e, true)) ++
          es.filterNot(small.contains).map(e => (e, false))
        else es.map(e => (e, false))
      }.partition(_._2) match { case (r, k) => (r.map(_._1), k.map(_._1)) }
    if (rewrite.isEmpty) return cur.version
    // one writeData per rewritten partition group (driver loop bounded
    // by partition count — metadata-scale), one commit for all of them.
    // Compaction is partition-string-PRESERVING: every input file of a
    // group shares one partition value, so the fresh files are written
    // flat and relabeled with the group's string — no layout knowledge
    // needed, which also keeps it correct for bucket layouts (the
    // bucket id is not a data column and could not be re-derived from
    // a recovered column name).
    val fresh = rewrite.groupBy(_.partition).toSeq.flatMap { case (part, es) =>
      // MERGED read: compaction MATERIALIZES position deletes and
      // localizes renamed columns on exactly the files it rewrites
      // (the localization half of both metadata-only ops)
      val df = MergeOnRead.mergedRead(spark, root, cur, es)
      val nOut = math.max(1L,
        (es.map(size).sum + targetFileBytes - 1) / targetFileBytes).toInt
      writeData(df.coalesce(nOut), root, None).map(_.copy(partition = part))
    }
    // rewritten (compacted) files had their position deletes APPLIED
    // by the merged read above; their old DV rows go inert with the
    // replaced files, rows for kept files keep applying
    commit(spark, root, cur.copy(version = cur.version + 1, entries = keep ++ fresh))
  }

  /** Whole-table rewrite under the same optimistic-concurrency
    * contract as every other commit: read the pinned snapshot, apply a
    * SAME-SCHEMA transform, write fresh files, and commit them as ONE
    * new version replacing every old entry. Two intended uses: layout
    * maintenance (same rows re-sorted/re-clustered —
    * [[graft.sources.ZOrder.cluster]] is the canonical caller) and
    * full snapshot replacement (a new corpus revision whose previous
    * state stays time-travelable — [[graft.operators.Drift
    * .betweenVersions]] reads drift straight out of that history). A
    * concurrent writer that takes the version first makes the
    * exclusive-create commit fail loudly — nothing is half-replaced.
    * Replaced files stay readable via time travel until [[vacuum]].
    *
    * The transform's output schema must equal the table's (checked):
    * content may change, shape may not — use [[addColumns]] /
    * [[dropColumns]] for schema changes.
    */
  def rewriteAll(
      spark: SparkSession, root: String,
      transform: DataFrame => DataFrame, maxRetries: Int = 3,
      newLayout: Option[String] = None): Long = {
    // validate + canonicalize the spec up front ('' = explicitly
    // unpartitioned) — the manifest stores the rendered form, so
    // layout equality (rebase guard, specs) is spacing-insensitive
    val wanted = newLayout.map(_.trim).map {
      case "" => ""
      case s => Layout.parse(s) match {
        case Layout.Identity(c) => c
        case Layout.Bucket(n, cs) => Layout.bucketSpec(n, cs)
      }
    }
    // A rewrite's output may depend on the content it replaced, so a
    // lost race re-runs the WHOLE transform on the fresh snapshot
    // (unlike append, whose rows commute and are written once).
    // Bounded low: each retry re-writes data; the lost attempt's files
    // orphan until vacuum.
    retrying(maxRetries) {
      val cur = requireSnapshot(spark, root)
      // layout resolution, most-authoritative first: an explicit
      // re-layout (`newLayout` — CALL relayout), this version's
      // manifest-carried spec, the catalog's creation sidecar (it
      // alone can say bucket(N,col) for pre-tracking tables); tables
      // written outside the catalog fall back to recovering an
      // identity column from the entry strings, as before
      val declared = wanted
        .orElse(cur.layout)
        .orElse(GraftCatalog.readPartitionCol(spark, root))
      val partitionCol = declared match {
        case Some("") => None // explicitly unpartitioned
        case Some(spec) => Some(spec)
        case None => cur.entries.map(_.partition).find(_.nonEmpty)
          .map(_.split("=", 2)(0))
          .filterNot(_ == Layout.BucketPartName)
      }
      val out = transform(readEntries(spark, root, cur, identity))
      requireSchema(out, cur, "rewriteAll")
      requireChecks(out, cur, "rewriteAll")
      val entries = writeData(out, root, partitionCol)
      // the manifest records the DECLARED spec only (never the
      // heuristic entry-string recovery): a full rewrite places every
      // row under it, so this version's entries and spec are
      // consistent by construction — the re-layout commit point. The
      // rewrite applied every delete and localized every renamed
      // column, so neither DVs nor aliases carry forward.
      commit(spark, root, cur.copy(version = cur.version + 1,
        entries = entries, dvs = Nil, aliases = Map.empty, layout = declared))
    }
  }

  /** RESTORE TABLE … VERSION AS OF: make `toVersion`'s state the
    * CURRENT state by committing a NEW version whose file set, schema,
    * and CHECK constraints are `toVersion`'s. History is never
    * rewritten — every version between stays time-travelable, and the
    * restore itself is one atomic manifest commit that concurrent
    * readers see entirely or not at all (and a concurrent writer makes
    * fail loudly, like every commit here). The accidental-overwrite
    * remedy: `restore(root, v)` after a bad `rewriteAll`/apply is one
    * metadata commit, no data movement.
    *
    * Streaming txn watermarks are deliberately NOT restored: a
    * regressed watermark would let an exactly-once sink re-apply a
    * batch that is already on disk, so the CURRENT watermarks carry
    * forward unchanged.
    *
    * Refuses (nothing commits) when any of `toVersion`'s files was
    * vacuumed away — verified against ONE recursive data-dir listing,
    * not per-file RPCs. Restoring the current version is a no-op.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val cur = requireSnapshot(spark, root)
    if (toVersion == cur.version) return cur.version
    require(toVersion < cur.version,
      s"restore: v$toVersion is not in $root's history (current: v${cur.version})")
    val target = snapshot(spark, root, toVersion)
    val f = fs(spark, root)
    val rootPrefix = {
      val p = f.makeQualified(new Path(root)).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val have = scala.collection.mutable.HashSet.empty[String]
    Seq("data", "deletes").foreach { sub =>
      val dir = new Path(root, sub)
      if (f.exists(dir)) {
        val it = f.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile)
            have += f.makeQualified(st.getPath).toUri.getPath.stripPrefix(rootPrefix)
        }
      }
    }
    val missing =
      (target.entries.map(_.relPath) ++ target.dvs.map(_.relPath))
        .filterNot(rel =>
          if (rel.startsWith("/")) f.exists(new Path(rel)) else have(rel))
    require(missing.isEmpty,
      s"restore: ${missing.size} of ${target.entries.size} files from " +
        s"v$toVersion were vacuumed (first: ${missing.headOption.getOrElse("")}); " +
        "that version is no longer restorable")
    // the target's delete set is restored WITH its file set — a
    // restore across a merge-on-read delete resurrects exactly the
    // rows that version could see
    commit(spark, root, target.copy(version = cur.version + 1, txns = cur.txns))
  }

  /** Crash recovery: delete incomplete (`#eof`-less) manifests so
    * their version numbers become committable again. A torn manifest
    * is invisible to readers but holds its version number (the
    * exclusive-create commit point refuses it) — after a writer crash
    * the table would otherwise refuse that version forever. ONLY call
    * this when no writer is in flight: deleting a manifest an alive
    * writer is still streaming would let a second writer steal the
    * version while the first believes it committed.
    */
  def recover(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(manifestDir(root))) return Seq.empty
    val torn = f.listStatus(manifestDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestRe(n) => n.toLong }
      .filterNot(v => readTextIfComplete(f, new Path(manifestDir(root), s"v$v.manifest"))
        .endsWith("#eof\n"))
    torn.foreach(v => f.delete(new Path(manifestDir(root), s"v$v.manifest"), false))
    torn.sorted
  }

  /** Zero-copy SHALLOW CLONE: initialize `dstRoot` as a new table
    * whose v0 references `srcRoot`'s CURRENT files in place (absolute
    * [[entryPath]] entries) — one metadata commit, no data movement,
    * regardless of table size. The testing-against-production pattern
    * at 100 TB: clone, mutate, measure, drop.
    *
    * The clone is immediately a full read-write table with its OWN
    * history: writes land under the clone's root, DML/compact swap
    * external entries for clone-local files (gradual localization),
    * and `vacuum` on the clone only ever deletes under the clone's
    * `data/` — it cannot touch the source (deletion candidates come
    * from LISTING the clone's data dir). CHECK constraints copy;
    * streaming txn watermarks copy too, so pointing an exactly-once
    * sink's existing checkpoint at the clone cannot double-apply.
    *
    * Caveats (the standard shallow-clone contract): `vacuum` on the
    * SOURCE could delete files a clone still references — so cloning
    * registers the clone at the source ([[liveClones]]) and source
    * vacuum REFUSES while clones live (force overrides). DROP or
    * RENAME of the source is not guarded: clones hold absolute-path
    * entries and break on their next read — drop or localize
    * (compact) clones before destroying their source.
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String): Long = {
    val src = requireSnapshot(spark, srcRoot)
    // absent-or-empty, not just "no committed manifest": committing a
    // _manifest inside a populated namespace directory would convert
    // the namespace into a table and hide its child tables
    requireAbsentOrEmpty(spark, dstRoot, "cloneTable")
    val f = fs(spark, srcRoot)
    val qualifiedSrc = f.makeQualified(new Path(srcRoot)).toUri.getPath
    val entries = src.entries.map(e =>
      e.copy(relPath = entryPath(qualifiedSrc, e.relPath)))
    // delete files absolutize like data entries; their CONTENT still
    // matches (DV rows key on the canonical data/… suffix, which a
    // clone's absolute entry paths preserve — MergeOnRead.fileKey)
    val dvs = src.dvs.map(d =>
      d.copy(relPath = entryPath(qualifiedSrc, d.relPath)))
    val v = commit(spark, dstRoot, src.copy(version = 0L, entries = entries, dvs = dvs))
    registerClone(spark, srcRoot, dstRoot)
    v
  }

  /** Record at the SOURCE that a shallow clone references its files —
    * [[vacuum]] consults this registry before deleting anything a
    * live clone could still need. Best-effort metadata (a marker file
    * per clone); failure to register never fails the clone commit.
    */
  private def registerClone(
      spark: SparkSession, srcRoot: String, dstRoot: String): Unit =
    scala.util.Try {
      val f = fs(spark, srcRoot)
      val dir = new Path(srcRoot, "_clones")
      f.mkdirs(dir)
      val enc = java.net.URLEncoder.encode(
        f.makeQualified(new Path(dstRoot)).toUri.getPath, "UTF-8")
      val os = f.create(new Path(dir, enc), true)
      try os.write(Array.emptyByteArray) finally os.close()
    }

  /** The clone destinations registered against `root` that still hold
    * a committed table. Stale markers (the clone was dropped) are
    * pruned as a side effect — a dropped clone never blocks vacuum.
    */
  def liveClones(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val dir = new Path(root, "_clones")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.filter(_.isFile).flatMap { st =>
      val dst = java.net.URLDecoder.decode(st.getPath.getName, "UTF-8")
      if (currentVersion(spark, dst).isDefined) Some(dst)
      else { scala.util.Try(f.delete(st.getPath, false)); None }
    }
  }

  /** Time-based retention vacuum — the "retain N hours of history"
    * operational shape, expressed over graft's version-granularity
    * reclaim: every version committed inside the retention window
    * survives (plus the current version, always), and [[vacuum]]
    * reclaims files reachable only from older ones. Version
    * timestamps come from the manifests, so the decision costs one
    * metadata listing, no data reads.
    */
  def vacuumRetain(
      spark: SparkSession, root: String, retainMillis: Long,
      force: Boolean = false): Int = {
    require(retainMillis >= 0, s"vacuumRetain: negative retention")
    val cutoff = System.currentTimeMillis() - retainMillis
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"vacuumRetain: no committed versions under $root")
    val keepFrom = vs.filter(v => snapshot(spark, root, v).ts >= cutoff)
      .minOption.getOrElse(vs.max)
    vacuum(spark, root, keepFrom, force)
  }

  /** Drop data files referenced by NO manifest ≥ `keepFromVersion`
    * (crash orphans and compacted-away history). Never touches files
    * the retained snapshots can still read. Returns the number of
    * files deleted.
    *
    * Clone safety: when shallow clones of this table are LIVE (the
    * [[liveClones]] registry), vacuum refuses — a clone's v0 pins
    * source files that this table's retained history may no longer
    * reference, and deleting them breaks the clone silently. Pass
    * `force = true` to override after dropping (or localizing) the
    * clones; dropped clones never block (stale markers self-prune).
    */
  def vacuum(
      spark: SparkSession, root: String, keepFromVersion: Long,
      force: Boolean = false): Int = {
    if (!force) {
      val clones = liveClones(spark, root)
      require(clones.isEmpty,
        s"vacuum: ${clones.size} live shallow clone(s) reference this " +
          s"table's files (${clones.mkString(", ")}) — vacuum would break " +
          "them. Drop the clones (or compact them to localize their data), " +
          "or pass force = true to override.")
    }
    val f = fs(spark, root)
    // live set spans data files AND position-delete files of every
    // retained version — a DV an old snapshot still needs must survive
    val live = versions(spark, root).filter(_ >= keepFromVersion)
      .flatMap { v =>
        val s = snapshot(spark, root, v)
        s.entries.map(_.relPath) ++ s.dvs.map(_.relPath)
      }.toSet
    // Relativize against the TABLE ROOT, never by substring: a root
    // that itself lives under a ".../data/..." path (e.g. a test dir)
    // would make a substring match pick the wrong prefix, mark every
    // live file as orphaned, and silently delete the whole table.
    val rootPrefix = {
      val p = f.makeQualified(new Path(root)).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val doomed = scala.collection.mutable.Buffer.empty[Path]
    Seq("data", "deletes").foreach { sub =>
      val dir = new Path(root, sub)
      if (f.exists(dir)) {
        val it = f.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
            val full = f.makeQualified(st.getPath).toUri.getPath
            require(full.startsWith(rootPrefix),
              s"vacuum: data file $full escapes table root $rootPrefix")
            val rel = full.stripPrefix(rootPrefix)
            if (!live.contains(rel)) doomed += st.getPath
          }
        }
      }
    }
    doomed.foreach(p => f.delete(p, false))
    doomed.size
  }

  /** Drop committed MANIFESTS below `keepFromVersion` (the current
    * version always survives: `keepFrom` is clamped to it). [[vacuum]]
    * reclaims unreferenced DATA files but leaves every manifest behind,
    * and both [[currentSnapshot]]'s directory listing and the
    * manifest-file count are O(versions) — a one-minute streaming
    * MERGE cadence is ~half a million manifests a year, which turns
    * every read-path resolve into a six-figure listing (the r13
    * labels-table drain measured fold cost CLIMBING with batch index
    * from exactly this accretion). Retention semantics: versions below
    * `keepFrom` stop being time-travelable/restorable — the same
    * contract as vacuuming their files, which is why the two run
    * together on a maintenance cadence ([[graft.streaming.Streams]]
    * compaction; callers wanting time travel keep a window, e.g.
    * `pruneHistory(root, versionAt(root, now - 7d))`). Single-writer
    * assumption as with [[recover]]: the streaming watermark (`#txn`)
    * and CHECKs are carried forward in every manifest, so replay
    * idempotence survives pruning. Returns versions dropped.
    */
  def pruneHistory(
      spark: SparkSession, root: String, keepFromVersion: Long): Seq[Long] = {
    val f = fs(spark, root)
    val cur = requireSnapshot(spark, root).version
    val keep = math.min(keepFromVersion, cur)
    val doomed = versions(spark, root).filter(_ < keep)
    doomed.foreach(v =>
      f.delete(new Path(manifestDir(root), s"v$v.manifest"), false))
    doomed
  }
}
