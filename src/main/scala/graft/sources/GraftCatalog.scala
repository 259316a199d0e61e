package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NonEmptyNamespaceException,
  NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, IdentityTransform, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over [[TxTable]] roots — the piece that turns
  * the graft format into a pure-SQL surface (reference: the SSIS
  * practice chapters drive everything through SSMS DDL; this is that
  * workflow on Spark):
  *
  * {{{
  * spark.sql.catalog.graft           = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/graft
  *
  * CREATE NAMESPACE graft.etl;
  * CREATE TABLE graft.etl.orders (k BIGINT, p STRING, v DOUBLE)
  *   PARTITIONED BY (p);
  * INSERT INTO graft.etl.orders SELECT ...;        -- txn append
  * INSERT OVERWRITE graft.etl.orders SELECT ...;   -- rewriteAll (time-travelable)
  * SELECT * FROM graft.etl.orders VERSION AS OF 0; -- time travel
  * ALTER TABLE graft.etl.orders ADD COLUMNS (note STRING);
  * DROP TABLE graft.etl.orders;
  * }}}
  *
  * Layout: a table named `graft.ns1.ns2.t` lives at
  * `<warehouse>/ns1/ns2/t`; a directory is a table iff it has a
  * committed `_manifest`, a namespace otherwise. Identifier segments
  * are restricted to `[A-Za-z0-9_.-]` (no separators — a name can
  * never escape the warehouse).
  *
  * Reads plan through [[GraftFileIndex]] wrapped for DSv2
  * ([[GraftPartitioningIndex]]): the manifest answers "which files"
  * with zero filesystem listings, commit-time stats prune files at
  * planning, and the scan is Spark's vectorized DSv2 parquet reader —
  * pushdown, codegen, and AQE all compose. Writes bridge to the SAME
  * transactional paths the programmatic API uses (`V1_BATCH_WRITE` →
  * [[TxTable.append]] / [[TxTable.rewriteAll]]), so SQL INSERTs get
  * atomic manifest commits, CHECK enforcement, and schema refusal for
  * free — one write path, two surfaces.
  */
final class GraftCatalog
  extends TableCatalog with SupportsNamespaces with ProcedureCatalog
  with FunctionCatalog {

  private var catalogName: String = _
  private var initWarehouse: String = _

  private def spark: SparkSession = SparkSession.active

  /** The warehouse root, re-read from the LIVE session conf on every
    * use (falling back to the initialize-time value): Spark's
    * CatalogManager caches catalog instances per name for the life of
    * the session, so an initialize-only warehouse silently pins the
    * FIRST value ever seen — a session that re-points
    * `spark.sql.catalog.<name>.warehouse` (bench/verify harnesses
    * running one query over several data dirs) would keep writing into
    * the stale root while callers resolve paths against the new one.
    */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .getOrElse(initWarehouse)

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse: set " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  /** SQL CHECK constraints are first-class: `CREATE TABLE … CHECK` and
    * `ALTER TABLE ADD/DROP CONSTRAINT` route into the engine's own
    * versioned CHECK map ([[TxTable.addCheck]] — validated against
    * existing rows at add time, enforced by every data-writing
    * commit). PRIMARY KEY / UNIQUE / FOREIGN KEY refuse loudly
    * (nothing in the engine enforces them; storing them as
    * decoration would lie to the optimizer).
    */
  /** Column DEFAULT values ride the manifest's metadata-capable
    * schema form (`#schemaJson=` — the DDL string cannot carry
    * them): CREATE TABLE stores the default expressions as Spark's
    * own StructField metadata, and INSERTs with missing columns
    * resolve them from the reported schema.
    */
  override def capabilities()
    : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def checkOf(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
    : (String, String) = c match {
    case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
      require(chk.predicateSql != null && chk.predicateSql.nonEmpty,
        s"CHECK constraint ${chk.name} carries no SQL predicate")
      chk.name -> chk.predicateSql
    case other => throw new UnsupportedOperationException(
      s"graft tables support CHECK constraints only; got: $other")
  }

  private val SegmentRe = "[A-Za-z0-9_.-]+".r

  private def checkSegments(parts: Seq[String]): Unit = parts.foreach { s =>
    require(SegmentRe.matches(s) && s != "." && s != "..",
      s"graft catalog: illegal identifier segment '$s' " +
        "(allowed: [A-Za-z0-9_.-], not '.' or '..')")
  }

  private def dirOf(namespace: Array[String]): Path = {
    checkSegments(namespace.toSeq)
    namespace.foldLeft(new Path(warehouse))((p, s) => new Path(p, s))
  }

  private def rootOf(ident: Identifier): Path = {
    checkSegments(ident.namespace.toSeq :+ ident.name)
    new Path(dirOf(ident.namespace), ident.name)
  }

  private def isTable(dir: Path): Boolean =
    TxTable.currentVersion(spark, dir.toString).isDefined

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    val snap = TxTable.currentSnapshot(spark, root.toString)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftV2Table(root.toString, snap,
      GraftCatalog.layoutOf(spark, root.toString, snap), timeTravel = false)
  }

  /** SQL `TIMESTAMP AS OF` time travel: Spark hands the instant as
    * epoch MICROseconds; [[TxTable.versionAt]] resolves it against the
    * monotone-adjusted commit times.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = rootOf(ident)
    if (TxTable.currentVersion(spark, root.toString).isEmpty)
      throw new NoSuchTableException(ident)
    loadTable(ident,
      TxTable.versionAt(spark, root.toString, timestampMicros / 1000L).toString)
  }

  /** SQL time travel: `SELECT … FROM graft.ns.t VERSION AS OF 3`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft time travel takes a numeric version, got '$version'")
    }
    val snap = try TxTable.snapshot(spark, root.toString, v) catch {
      case _: java.io.IOException => throw new NoSuchTableException(ident)
    }
    new GraftV2Table(root.toString, snap,
      GraftCatalog.layoutOf(spark, root.toString, snap), timeTravel = true)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    val partitionCol = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references.length == 1 =>
        val c = t.references.head.fieldNames.mkString(".")
        require(schema.fieldNames.contains(c),
          s"PARTITIONED BY ($c): no such column")
        Some(c)
      case Seq(t) if t.name == "bucket" && t.references.nonEmpty =>
        // one or more bucket columns (composite keys hash in the
        // declared order — the order is part of the layout contract)
        val cs = t.references.toSeq.map(_.fieldNames.mkString("."))
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          s"bucket transform without a bucket count: $t"))
        require(n > 0,
          s"PARTITIONED BY (bucket($n, ${cs.mkString(", ")})): need N > 0")
        cs.foreach { c =>
          require(schema.fieldNames.contains(c),
            s"PARTITIONED BY (bucket($n, $c)): no such column")
          // hash-stable types only: the bucket function must agree
          // across writes forever
          schema(c).dataType match {
            case ByteType | ShortType | IntegerType | LongType | StringType |
                 DateType | TimestampType | TimestampNTZType | BooleanType => ()
            case dt => throw new UnsupportedOperationException(
              s"bucket($n, $c): unsupported bucket column type $dt")
          }
        }
        Some(Layout.bucketSpec(n, cs))
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY (one identity column or " +
          s"one bucket(N, column...)); got: ${other.mkString(", ")}")
    }
    // user TBLPROPERTIES persist in the manifest; Spark's own
    // bookkeeping keys (provider/location/owner/...) are computed by
    // the table and never stored
    val userProps = properties.asScala.toMap.filterNot { case (k, _) =>
      Set("provider", "location", "owner", "external", "comment",
        "option.path", "path").contains(k) || k.startsWith("option.")
    }
    TxTable.createEmpty(spark, root.toString, schema, partitionCol, userProps)
    partitionCol.foreach(GraftCatalog.writePartitionCol(spark, root.toString, _))
    new GraftV2Table(root.toString,
      TxTable.currentSnapshot(spark, root.toString).get, partitionCol,
      timeTravel = false)
  }

  /** CREATE TABLE with inline CONSTRAINT clauses (the TableInfo shape
    * Spark 4 routes constraint-bearing DDL through): create, then
    * commit each CHECK into the versioned constraint map.
    */
  override def createTable(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints().toSeq.map(checkOf) // refuse non-CHECK first
    // validate every predicate BEFORE the create commits — a failing
    // constraint must fail the whole statement, not leave behind a
    // table missing its declared CHECK
    checks.foreach { case (n, sql) =>
      try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          info.schema())
        .filter(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"CHECK constraint $n [$sql] does not analyze against the " +
            s"declared schema: ${e.getMessage}", e)
      }
    }
    val t = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    checks.foreach { case (n, sql) =>
      TxTable.addCheck(spark, rootOf(ident).toString, n, sql)
    }
    if (checks.isEmpty) t else loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident).toString
    if (TxTable.currentVersion(spark, root).isEmpty)
      throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    val setProps = changes.collect { case s: TableChange.SetProperty => s }
    val unsetProps =
      changes.collect { case r: TableChange.RemoveProperty => r }
    val addCons = changes.collect { case a: TableChange.AddConstraint => a }
    val dropCons = changes.collect { case d: TableChange.DropConstraint => d }
    val defaults =
      changes.collect { case u: TableChange.UpdateColumnDefaultValue => u }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint] ||
        c.isInstanceOf[TableChange.UpdateColumnDefaultValue])
    if (other.nonEmpty) throw new UnsupportedOperationException(
      "graft ALTER TABLE supports ADD COLUMNS / DROP COLUMNS / RENAME " +
        "COLUMN / ALTER COLUMN TYPE / SET-DROP DEFAULT / SET-UNSET " +
        "TBLPROPERTIES / ADD-DROP CONSTRAINT CHECK (all metadata-only); " +
        "got: " + other.mkString(", "))
    adds.foreach { a =>
      require(a.fieldNames.length == 1,
        s"graft ADD COLUMNS is top-level only: ${a.fieldNames.mkString(".")}")
      require(a.isNullable,
        "graft ADD COLUMNS: new columns must be nullable (existing rows " +
          "backfill with NULL)")
    }
    drops.foreach(d => require(d.fieldNames.length == 1,
      s"graft DROP COLUMNS is top-level only: ${d.fieldNames.mkString(".")}"))
    (renames ++ widens).foreach(c => require(
      (c match {
        case r: TableChange.RenameColumn => r.fieldNames
        case u: TableChange.UpdateColumnType => u.fieldNames
      }).length == 1,
      s"graft ALTER COLUMN is top-level only"))
    if (adds.nonEmpty)
      TxTable.addColumns(spark, root, adds.map { a =>
        // ADD COLUMN ... DEFAULT: Spark's convention — existing rows
        // read the default frozen at add time (EXISTS_DEFAULT, filled
        // by the parquet reader for files lacking the column), future
        // inserts resolve CURRENT_DEFAULT
        val metadata = Option(a.defaultValue()) match {
          case Some(d) =>
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("CURRENT_DEFAULT", d.getSql)
              .putString("EXISTS_DEFAULT", d.getSql)
              .build()
          case None => org.apache.spark.sql.types.Metadata.empty
        }
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true, metadata)
      })
    if (drops.nonEmpty)
      TxTable.dropColumns(spark, root, drops.map(_.fieldNames.head))
    renames.foreach(r =>
      TxTable.renameColumn(spark, root, r.fieldNames.head, r.newName))
    widens.foreach(u =>
      TxTable.widenColumn(spark, root, u.fieldNames.head, u.newDataType))
    if (setProps.nonEmpty || unsetProps.nonEmpty)
      TxTable.setProperties(spark, root,
        setProps.map(s => s.property -> s.value).toMap,
        unsetProps.map(_.property))
    addCons.foreach { a =>
      val (n, sql) = checkOf(a.constraint())
      TxTable.addCheck(spark, root, n, sql)
    }
    dropCons.foreach { d =>
      val have = TxTable.requireSnapshot(spark, root).checks.contains(d.name)
      if (have || !d.ifExists) TxTable.dropCheck(spark, root, d.name)
    }
    defaults.foreach { u =>
      require(u.fieldNames.length == 1,
        "graft ALTER COLUMN DEFAULT is top-level only")
      // newCurrentDefault replaces the deprecated newDefaultValue
      // (Spark 4.1): the DefaultValue's SQL text is what the engine
      // stores and re-parses; a DROP DEFAULT arrives as null. A
      // DefaultValue WITHOUT SQL text (legal for expression-only
      // defaults from non-SQL V2 clients) must fail loudly — silently
      // treating it as DROP DEFAULT would discard the user's intent
      // (ADVICE r12).
      val sqlText = Option(u.newCurrentDefault()).map { v =>
        val s = Option(v.getSql).map(_.trim).getOrElse("")
        require(s.nonEmpty,
          s"ALTER COLUMN ${u.fieldNames.head} SET DEFAULT: the " +
            "DefaultValue carries no SQL text (expression-only V2 " +
            "default) — graft stores defaults as re-parsable SQL; " +
            "provide the SQL form")
        s
      }
      TxTable.setColumnDefault(spark, root, u.fieldNames.head, sqlText)
    }
    loadTable(ident)
  }

  /** DROP TABLE. Clone caveat: shallow clones of this table hold
    * absolute-path entries into it and will break on their next read —
    * SQL DROP follows standard semantics and does not refuse (same as
    * every shallow-clone implementing format); drop or localize
    * (compact) the clones first. [[TxTable.vacuum]] IS guarded.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!isTable(root)) return false
    fs.delete(root, true)
  }

  /** RENAME. Same clone caveat as [[dropTable]]: clones reference the
    * OLD absolute path and dangle after a rename of their source.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = rootOf(oldIdent)
    val dst = rootOf(newIdent)
    if (!isTable(src)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(dst.getParent))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(src, dst),
      s"rename $src -> $dst failed (filesystem refused)")
  }

  // --------------------------------------------------------- procedures

  /** SQL `CALL` maintenance surface — `CALL gc.system.compact('ns.t')`
    * etc.; see [[GraftProcedures]] for the inventory. The `table`
    * argument is a catalog-relative dotted path (`ns.t`).
    */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace, got " +
        s"${ident.namespace.mkString(".")}")
    GraftProcedures.byName.getOrElse(ident.name,
      throw new UnsupportedOperationException(
        s"no such graft procedure: ${ident.name} " +
          s"(have: ${GraftProcedures.byName.keys.toSeq.sorted.mkString(", ")})"))
        .apply(this)
  }

  // --------------------------------------------------------- functions

  /** The one catalog function: the bucket layout transform. Spark's
    * key-grouped planning resolves a reported `bucket(N, col)`
    * partitioning through the relation's FunctionCatalog; binding the
    * SAME function the write path uses ([[Layout.dirColumn]] —
    * `pmod(murmur3(col), N)`, seed 42) is what makes two bucketed
    * tables' partitionings provably compatible.
    */
  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.byName.keys.toArray.sorted
        .map(n => Identifier.of(Array("system"), n))
    else Array.empty

  /** Resolve a procedure's catalog-relative dotted table path. */
  private[sources] def tableRoot(dotted: String): String = {
    val parts = dotted.split('.').toSeq
    checkSegments(parts)
    val root = parts.foldLeft(new Path(warehouse))((p, s) => new Path(p, s))
    require(isTable(root), s"no graft table at '$dotted' under $warehouse")
    root.toString
  }

  /** [[tableRoot]] for a table being CREATED (clone target): the name
    * resolves inside an existing namespace but must not already be a
    * committed table.
    */
  private[sources] def newTableRoot(dotted: String): String = {
    val parts = dotted.split('.').toSeq
    checkSegments(parts)
    val ns = parts.init.foldLeft(new Path(warehouse))((p, s) => new Path(p, s))
    require(fs.exists(ns), s"no namespace '${parts.init.mkString(".")}' " +
      s"under $warehouse")
    val target = new Path(ns, parts.last)
    // clone-destination twin of the CREATE TABLE guard: committing a
    // manifest into a populated directory would CONVERT a namespace
    // into a table and hide its child tables from listings — refuse
    // unless the path is absent or an empty leftover directory
    if (fs.exists(target)) {
      require(fs.getFileStatus(target).isDirectory,
        s"clone target '$dotted' exists and is a file")
      require(fs.listStatus(target).isEmpty,
        s"clone target '$dotted' already exists and is non-empty — " +
          "refusing to claim it")
    }
    target.toString
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .filterNot(_.getName.startsWith("_"))
      .map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = dirOf(namespace)
    namespace.isEmpty || (fs.exists(dir) && !isTable(dir))
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      dirOf(namespace).toString).asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val dir = dirOf(namespace)
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(dir)
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(namespace)
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new NonEmptyNamespaceException(namespace)
    fs.delete(dir, true)
  }
}

/** The `CALL`-able maintenance inventory — every table-format
  * operation that is not a read or a write, exposed to SQL users:
  *
  * {{{
  * CALL gc.system.history('ns.t');            -- DESCRIBE HISTORY rows
  * CALL gc.system.restore('ns.t', 3);         -- rollback as a new commit
  * CALL gc.system.compact('ns.t');            -- bin-pack small files
  * CALL gc.system.zorder('ns.t', 'a,b', 16);  -- re-cluster in place
  * CALL gc.system.vacuum('ns.t', 4);          -- reclaim pre-v4 files
  * }}}
  *
  * Each returns its outcome as a result row (new version / file
  * counts), so operators can script maintenance in SQL alone.
  */
private[sources] object GraftProcedures {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{
    BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._

  private def spark: SparkSession = SparkSession.active

  /** One self-describing procedure: binds to its declared parameters
    * and runs `body` over the (coerced) argument row; `body` returns
    * result ROWS as value sequences matching `resultType`.
    */
  private final class Proc(
      procName: String, procDesc: String,
      params: Array[ProcedureParameter], resultType: StructType,
      body: (GraftCatalog, InternalRow) => Seq[Seq[Any]])
    extends (GraftCatalog => UnboundProcedure) {
    override def apply(cat: GraftCatalog): UnboundProcedure =
      new UnboundProcedure {
        override def name(): String = procName
        override def description(): String = procDesc
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = procName
            override def description(): String = procDesc
            override def parameters(): Array[ProcedureParameter] = params
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): util.Iterator[Scan] = {
              val out = body(cat, input).map(toRow).toArray
              val scan: Scan = new LocalScan {
                override def readSchema(): StructType = resultType
                override def rows(): Array[InternalRow] = out
              }
              util.List.of(scan).iterator()
            }
            private def toRow(vals: Seq[Any]): InternalRow =
              InternalRow.fromSeq(vals.zip(resultType.fields).map {
                case (v, f) =>
                  org.apache.spark.sql.catalyst.CatalystTypeConverters
                    .createToCatalystConverter(f.dataType)(v)
              })
          }
      }
  }

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
  private def inDefault(n: String, t: DataType, d: String) =
    ProcedureParameter.in(n, t).defaultValue(d).build()

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  /** Parse an SQL `UPDATE … SET` assignment list with Spark's own
    * parser (a synthetic UPDATE statement), so expression commas,
    * quotes and casts all behave exactly as in UPDATE — shared by
    * `CALL update_where` and `CALL merge_into`.
    */
  private def parseSetClause(op: String, clause: String)
    : Seq[(String, org.apache.spark.sql.Column)] = {
    val parsed = spark.sessionState.sqlParser.parsePlan(
      s"UPDATE __g_set_probe SET $clause")
    parsed.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        u.assignments.map { a =>
          val name = a.key match {
            case att: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => att.name
            case other => throw new IllegalArgumentException(
              s"$op: assignment target must be a plain column, got $other")
          }
          name -> org.apache.spark.sql.GraftColumnBridge.column(a.value)
        }
    }.getOrElse(throw new IllegalArgumentException(
      s"$op: cannot parse set_clause: $clause"))
  }

  val byName: Map[String, GraftCatalog => UnboundProcedure] = Map(
    "restore" -> new Proc(
      "restore", "make a historical version current (one metadata commit)",
      Array(in("table", StringType), in("version", LongType)),
      StructType(Seq(StructField("restored_to_version", LongType, false))),
      (cat, r) => Seq(Seq(
        TxTable.restore(spark, cat.tableRoot(str(r, 0)), r.getLong(1))))),
    "compact" -> new Proc(
      "compact", "bin-pack small files per partition into one new " +
        "version; optional partition scope ('col=value' / '_bucket=id') " +
        "compacts one hot group of a huge table",
      Array(in("table", StringType),
        inDefault("target_file_bytes", LongType, (128L << 20).toString),
        inDefault("partition", StringType, "''")),
      StructType(Seq(StructField("version", LongType, false),
        StructField("live_files", LongType, false))),
      (cat, r) => {
        val root = cat.tableRoot(str(r, 0))
        val scope = Option(str(r, 2)).filter(_.nonEmpty)
        val v = TxTable.compact(spark, root, r.getLong(1), scope)
        Seq(Seq(v,
          TxTable.currentSnapshot(spark, root).get.entries.size.toLong))
      }),
    "vacuum" -> new Proc(
      "vacuum", "delete files unreachable from versions >= " +
        "keep_from_version; refuses while live shallow clones reference " +
        "this table unless force",
      Array(in("table", StringType), in("keep_from_version", LongType),
        inDefault("force", BooleanType, "false")),
      StructType(Seq(StructField("files_deleted", LongType, false))),
      (cat, r) => Seq(Seq(
        TxTable.vacuum(spark, cat.tableRoot(str(r, 0)), r.getLong(1),
          force = r.getBoolean(2)).toLong))),
    "vacuum_retain" -> new Proc(
      "vacuum_retain", "time-based retention vacuum: keep every " +
        "version committed in the last retain_hours (and the current " +
        "one), reclaim files only reachable from older versions; same " +
        "live-clone guard as vacuum",
      Array(in("table", StringType), in("retain_hours", LongType),
        inDefault("force", BooleanType, "false")),
      StructType(Seq(StructField("files_deleted", LongType, false))),
      (cat, r) => Seq(Seq(
        TxTable.vacuumRetain(spark, cat.tableRoot(str(r, 0)),
          r.getLong(1) * 3600L * 1000L, force = r.getBoolean(2)).toLong))),
    "zorder" -> new Proc(
      "zorder", "re-cluster the table on the given columns (in place)",
      Array(in("table", StringType), in("columns", StringType),
        inDefault("num_files", LongType, "16")),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => {
        val dims = str(r, 1).split(',').map(_.trim).filter(_.nonEmpty)
          .map(org.apache.spark.sql.functions.col).toSeq
        require(dims.nonEmpty, "zorder: empty column list")
        Seq(Seq(ZOrder.cluster(spark, cat.tableRoot(str(r, 0)), dims,
          r.getLong(2).toInt)))
      }),
    "cdc_lag" -> new Proc(
      "cdc_lag", "CDC lag monitor over a Cdc.StateStore parquet: one " +
        "row per pipeline state with hours since its watermark last " +
        "advanced, headroom against the change-log retention window, " +
        "and an alert flag when headroom dips under alert_hours " +
        "(default 24 — raise the consumer cadence or the retention " +
        "before the guard starts refusing ranges)",
      Array(in("state_path", StringType),
        inDefault("retain_hours", LongType, "72"),
        inDefault("alert_hours", LongType, "24")),
      StructType(Seq(
        StructField("state_name", StringType, false),
        StructField("state", LongType, false),
        StructField("lag_hours", DoubleType, false),
        StructField("headroom_hours", DoubleType, false),
        StructField("alert", BooleanType, false))),
      (cat, r) => {
        val path = str(r, 0)
        val retainH = r.getLong(1).toDouble
        val alertH = r.getLong(2).toDouble
        val now = System.currentTimeMillis()
        // the state store is one tiny parquet (a row per pipeline) —
        // driver-collect is the right scale
        spark.read.parquet(path)
          .select("state_name", "state", "last_update")
          .collect().toSeq.map { row =>
            val lagH = (now -
              row.getTimestamp(2).getTime).toDouble / 3600000.0
            val headroom = retainH - lagH
            Seq(row.getString(0), row.getLong(1), lagH, headroom,
              headroom < alertH)
          }
      }),
    "delete_where" -> new Proc(
      "delete_where", "MERGE-ON-READ DELETE: commit a position-delete " +
        "file for every row matching the predicate — data files " +
        "untouched, write bytes proportional to deleted rows (the " +
        "scattered-key complement of copy-on-write DELETE FROM); " +
        "reads anti-join the delete set until compact/rewrite_deletes " +
        "localizes it",
      Array(in("table", StringType), in("predicate", StringType)),
      StructType(Seq(StructField("version", LongType, false),
        StructField("rows_deleted", LongType, false))),
      (cat, r) => {
        val (v, n) = MergeOnRead.deleteWhere(spark,
          cat.tableRoot(str(r, 0)),
          org.apache.spark.sql.functions.expr(str(r, 1)))
        Seq(Seq(v, n))
      }),
    "update_where" -> new Proc(
      "update_where", "MERGE-ON-READ UPDATE: one commit masks matching " +
        "rows' old images with a position-delete file and appends " +
        "their post-images as new data files (layout placement kept) " +
        "— write bytes proportional to updated rows, the scattered-key " +
        "complement of copy-on-write UPDATE; set_clause is SQL UPDATE " +
        "SET syntax, e.g. 'price = price * 1.1, status = ''X'''",
      Array(in("table", StringType), in("predicate", StringType),
        in("set_clause", StringType)),
      StructType(Seq(StructField("version", LongType, false),
        StructField("rows_updated", LongType, false))),
      (cat, r) => {
        val (v, n) = MergeOnRead.updateWhere(spark,
          cat.tableRoot(str(r, 0)),
          org.apache.spark.sql.functions.expr(str(r, 1)),
          parseSetClause("update_where", str(r, 2)))
        Seq(Seq(v, n))
      }),
    "merge_into" -> new Proc(
      "merge_into", "MERGE-ON-READ MERGE (upsert): reconcile a source " +
        "view into the table on equality of on_keys in ONE commit — " +
        "matched rows' old images are masked by a position-delete " +
        "file, their post-images and the unmatched source rows land " +
        "as new data files (layout placement kept) — write bytes " +
        "proportional to changed rows, the scattered-key complement " +
        "of SQL MERGE INTO's copy-on-write group rewrite. matched_set " +
        "is SQL SET syntax over the target row plus the source row as " +
        "a `src` struct ('' = update every table column the source " +
        "carries; 'NONE' = no update clause); matched_delete is a " +
        "WHEN MATCHED ... THEN DELETE predicate ('' = none), " +
        "evaluated first; insert_unmatched inserts source rows with " +
        "no match, by column name; matched_condition / " +
        "insert_condition gate the update / insert clauses (WHEN " +
        "MATCHED AND ... / WHEN NOT MATCHED AND ... — e.g. skip CDC " +
        "tombstones for never-seen keys); evolve_schema additively " +
        "adds every source column the table lacks (metadata-only, " +
        "nullable) before merging",
      Array(in("table", StringType), in("source", StringType),
        in("on_keys", StringType),
        inDefault("matched_set", StringType, "''"),
        inDefault("matched_delete", StringType, "''"),
        inDefault("insert_unmatched", BooleanType, "true"),
        inDefault("matched_condition", StringType, "''"),
        inDefault("insert_condition", StringType, "''"),
        inDefault("evolve_schema", BooleanType, "false")),
      StructType(Seq(StructField("version", LongType, false),
        StructField("rows_updated", LongType, false),
        StructField("rows_deleted", LongType, false),
        StructField("rows_inserted", LongType, false))),
      (cat, r) => {
        val sets = str(r, 3).trim match {
          case "" => Some(Nil)
          case s if s.equalsIgnoreCase("none") => None
          case s => Some(parseSetClause("merge_into", s))
        }
        val del = str(r, 4).trim match {
          case "" => None
          case s => Some(org.apache.spark.sql.functions.expr(s))
        }
        def cond(i: Int) = str(r, i).trim match {
          case "" => None
          case s => Some(org.apache.spark.sql.functions.expr(s))
        }
        val res = MergeOnRead.mergeInto(spark,
          cat.tableRoot(str(r, 0)), spark.table(str(r, 1)),
          str(r, 2).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          sets, del, r.getBoolean(5), cond(6), cond(7),
          evolveSchema = r.getBoolean(8))
        Seq(Seq(res.version, res.updated, res.deleted, res.inserted))
      }),
    "rewrite_table" -> new Proc(
      "rewrite_table", "full same-schema rewrite of the current " +
        "snapshot: localizes metadata-only RENAMEs (old files still " +
        "carry historical column names) and materializes any " +
        "merge-on-read deletes, clearing both alias and delete " +
        "metadata in one commit; history stays time-travelable",
      Array(in("table", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => Seq(Seq(
        TxTable.rewriteAll(spark, cat.tableRoot(str(r, 0)), identity)))),
    "relayout" -> new Proc(
      "relayout", "PARTITION EVOLUTION: full rewrite of the current " +
        "snapshot placing every row under a NEW layout spec " +
        "('col' or 'bucket(N,cols...)'; '' = unpartitioned) — the " +
        "escape hatch when a table outgrows its bucket count. One " +
        "commit; the manifest records each version's own spec, so " +
        "time travel keeps pruning/SPJ bound to the layout a " +
        "version's files were actually written under",
      Array(in("table", StringType), in("layout", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => {
        val root = cat.tableRoot(str(r, 0))
        val specStr = str(r, 1).trim
        val spec = if (specStr.isEmpty) None else Some(specStr)
        spec.foreach { sp =>
          val schema = TxTable.requireSnapshot(spark, root).schema
          Layout.parse(sp) match {
            case Layout.Identity(c) =>
              require(schema.fieldNames.contains(c),
                s"relayout: no such column $c")
            case Layout.Bucket(n, cs) =>
              require(n > 0, s"relayout: bucket($n, …): need N > 0")
              cs.foreach { c =>
                require(schema.fieldNames.contains(c),
                  s"relayout: bucket($n, $c): no such column")
                schema(c).dataType match {
                  case org.apache.spark.sql.types.ByteType |
                       org.apache.spark.sql.types.ShortType |
                       org.apache.spark.sql.types.IntegerType |
                       LongType | StringType |
                       org.apache.spark.sql.types.DateType |
                       org.apache.spark.sql.types.TimestampType |
                       org.apache.spark.sql.types.TimestampNTZType |
                       org.apache.spark.sql.types.BooleanType => ()
                  case dt => throw new UnsupportedOperationException(
                    s"relayout: bucket($n, $c): unsupported bucket " +
                      s"column type $dt")
                }
              }
          }
        }
        // '' relayouts to UNPARTITIONED — recorded explicitly in the
        // manifest (None would fall back to the creation sidecar)
        Seq(Seq(TxTable.rewriteAll(spark, root, identity,
          newLayout = Some(specStr))))
      }),
    "rewrite_deletes" -> new Proc(
      "rewrite_deletes", "materialize the merge-on-read delete set: " +
        "rewrite exactly the DV-affected data files with their " +
        "deletes applied and drop every position-delete file, in one " +
        "commit (cost proportional to the affected files' live rows)",
      Array(in("table", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => Seq(Seq(
        MergeOnRead.materialize(spark, cat.tableRoot(str(r, 0)))))),
    "detail" -> new Proc(
      "detail", "DESCRIBE DETAIL: one row with the table's current " +
        "version, file/byte totals, layout spec, CHECK count, and " +
        "outstanding merge-on-read delete files/rows",
      Array(in("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, false),
        StructField("files", LongType, false),
        StructField("bytes", LongType, false),
        StructField("layout", StringType, true),
        StructField("num_checks", LongType, false),
        StructField("location", StringType, false),
        StructField("dv_files", LongType, false),
        StructField("dv_rows", LongType, false))),
      (cat, r) => {
        val root = cat.tableRoot(str(r, 0))
        val s = TxTable.currentSnapshot(spark, root).getOrElse(
          throw new IllegalArgumentException(s"not a graft table: $root"))
        // unknown sizes (-1, pre-size manifests) resolve through one
        // FileStatus each instead of silently counting as 0 — same
        // rule compact applies; bounded by legacy entries only
        val fsys = new Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val bytes = s.entries.map(e =>
          if (e.size >= 0) e.size
          else fsys.getFileStatus(
            new Path(TxTable.entryPath(root, e.relPath))).getLen).sum
        Seq(Seq(s.version, s.entries.size.toLong, bytes,
          GraftCatalog.layoutOf(spark, root, s).orNull,
          s.checks.size.toLong, root,
          s.dvs.size.toLong, s.dvs.map(d => math.max(d.rows, 0L)).sum))
      }),
    "history" -> new Proc(
      "history", "DESCRIBE HISTORY: one row per committed version",
      Array(in("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, false),
        StructField("files", LongType, false),
        StructField("bytes", LongType, false),
        StructField("files_added", LongType, false),
        StructField("bytes_added", LongType, false),
        StructField("txns", StringType, true),
        StructField("checks", StringType, true),
        StructField("ts_millis", LongType, false),
        StructField("layout", StringType, true),
        StructField("props", StringType, true))),
      (cat, r) =>
        TxTable.history(spark, cat.tableRoot(str(r, 0)))
          .collect().toSeq.map(_.toSeq)),
    "add_check" -> new Proc(
      "add_check", "ADD a CHECK constraint (validates existing rows, " +
        "then every data-writing commit enforces it)",
      Array(in("table", StringType), in("name", StringType),
        in("expr", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => Seq(Seq(TxTable.addCheck(
        spark, cat.tableRoot(str(r, 0)), str(r, 1), str(r, 2))))),
    "drop_check" -> new Proc(
      "drop_check", "DROP a CHECK constraint by name",
      Array(in("table", StringType), in("name", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => Seq(Seq(TxTable.dropCheck(
        spark, cat.tableRoot(str(r, 0)), str(r, 1))))),
    "recover" -> new Proc(
      "recover", "free version numbers held by torn (crashed-writer) " +
        "manifests — only call with no writer in flight",
      Array(in("table", StringType)),
      StructType(Seq(StructField("freed_version", LongType, false))),
      (cat, r) => TxTable.recover(spark, cat.tableRoot(str(r, 0)))
        .map(v => Seq(v))),
    "export_files" -> new Proc(
      "export_files", "file-per-row LOB export (Import/Export Column " +
        "write-back): payload_col of every row lands as " +
        "dir/<id_col>.<ext> via executor-parallel raw-FS writes",
      Array(in("table", StringType), in("id_col", StringType),
        in("payload_col", StringType), in("dir", StringType),
        inDefault("ext", StringType, "'bin'")),
      StructType(Seq(StructField("files", LongType, false),
        StructField("bytes", LongType, false))),
      (cat, r) => {
        import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
        val df = spark.read.format("graft").load(cat.tableRoot(str(r, 0)))
        val agg = graft.operators.Multimodal
          .exportFiles(df, str(r, 1), str(r, 2), str(r, 3), str(r, 4))
          .agg(count(lit(1)), coalesce(sum("n_bytes"), lit(0L))).head()
        Seq(Seq(agg.getLong(0), agg.getLong(1)))
      }),
    "clone" -> new Proc(
      "clone", "zero-copy SHALLOW CLONE: dst's v0 references src's " +
        "current files in place — one metadata commit, no data " +
        "movement; vacuum on the clone never touches the source, and " +
        "vacuum on the SOURCE refuses while live clones exist (force " +
        "overrides); DROP/RENAME of the source still dangles clones",
      Array(in("src", StringType), in("dst", StringType)),
      StructType(Seq(StructField("version", LongType, false))),
      (cat, r) => {
        val srcRoot = cat.tableRoot(str(r, 0))
        val dstRoot = cat.newTableRoot(str(r, 1))
        val v = TxTable.cloneTable(spark, srcRoot, dstRoot)
        // the clone keeps the source's partition layout
        GraftCatalog.readPartitionCol(spark, srcRoot).foreach(
          GraftCatalog.writePartitionCol(spark, dstRoot, _))
        Seq(Seq(v))
      }))
}

object GraftCatalog {

  /** Register a GraftCatalog as session catalog `name` over
    * `warehouse`, with its `mart` namespace.
    */
  private[graft] def register(
      spark: SparkSession, name: String, warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.mart")
  }

  /** The catalog's one piece of table metadata outside the manifest:
    * the layout partition column, persisted at CREATE so every later
    * INSERT partitions the same way. Plain-text single line —
    * `_`-prefixed so namespace listings skip it.
    */
  private val PartitionColFile = "_graft_partition_col"

  private[sources] def writePartitionCol(
      spark: SparkSession, root: String, col: String): Unit = {
    val p = new Path(root, PartitionColFile)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = f.create(p, true)
    try os.write(col.getBytes("UTF-8")) finally os.close()
  }

  /** The layout spec EFFECTIVE for `snap`: the manifest-carried spec
    * of that version when present (re-layouts stamp every commit from
    * then on), else the creation sidecar — which [[TxTable
    * .rewriteAll]]'s re-layout never touches, so pre-tracking
    * versions keep resolving to the spec their entries were actually
    * written under.
    */
  private[graft] def layoutOf(
      spark: SparkSession, root: String,
      snap: TxTable.Snapshot): Option[String] =
    snap.layout match {
      case Some("") => None // relayouted to EXPLICITLY unpartitioned
      case Some(spec) => Some(spec)
      case None => readPartitionCol(spark, root)
    }

  private[sources] def readPartitionCol(
      spark: SparkSession, root: String): Option[String] = {
    val p = new Path(root, PartitionColFile)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        .filter(_.nonEmpty)
      finally in.close()
    }
  }
}

/** One graft table (one pinned snapshot) as a DSv2 `Table`. Reads are
  * snapshot-isolated DSv2 parquet scans over the manifest's file list;
  * writes bridge through `V1_BATCH_WRITE` to the transactional
  * append/rewrite paths. A time-travel handle refuses writes — history
  * is immutable; [[TxTable.restore]] is the way to make a historical
  * version current.
  */
final class GraftV2Table(
    root: String, snap: TxTable.Snapshot, partitionCol: Option[String],
    timeTravel: Boolean)
  extends Table with SupportsRead with SupportsWrite
  with SupportsRowLevelOperations with SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  /** The [[ApplyDeletionVectors]] rule reads these to rewrite
    * DV-bearing relations into their merged plans.
    */
  private[graft] def tableRoot: String = root
  private[graft] def tableSnapshot: TxTable.Snapshot = snap

  /** Parsed layout spec ([[Layout]]); `partitionCol` carries either a
    * plain identity column name or `bucket(N,col)`.
    */
  private val layout: Option[Layout.Kind] = partitionCol.map(Layout.parse)

  private def identityCol: Option[String] =
    layout.collect { case Layout.Identity(c) => c }

  override def name(): String = s"graft.`$root`" +
    (if (timeTravel) s"@v${snap.version}" else "")

  override def schema(): StructType = snap.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      // `MERGE WITH SCHEMA EVOLUTION`: Spark resolves the source-only
      // columns into ADD COLUMNS TableChanges and routes them through
      // [[GraftCatalog.alterTable]] (metadata-only, nullable) before
      // rewriting the merge — the SQL twin of `CALL merge_into`'s
      // evolve_schema flag; old files read the new column as NULL
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def partitioning(): Array[Transform] = layout.map {
    case Layout.Identity(c) => Expressions.identity(c)
    case Layout.Bucket(n, cs) => Expressions.bucket(n, cs: _*)
  }.toArray

  /** Row-lineage metadata columns (`_file`, `_pos`) — the row id the
    * merge-on-read DML path keys its position deletes on
    * ([[GraftDeltaOperation.rowId]]). Hidden when the table's own
    * schema claims the names (the Spark conflict rule); ordinary
    * reads refuse them loudly rather than serve nulls
    * ([[org.apache.spark.sql.graft.GraftAggScanBuilder.pruneColumns]]).
    */
  override def metadataColumns()
    : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (schema().fieldNames.exists(n =>
        n.equalsIgnoreCase(DeltaDml.FileCol) ||
          n.equalsIgnoreCase(DeltaDml.PosCol))) Array.empty
    else Array(
      GraftLineageColumn(DeltaDml.FileCol, org.apache.spark.sql.types.StringType),
      GraftLineageColumn(DeltaDml.PosCol, org.apache.spark.sql.types.LongType))

  /** The versioned CHECK map as first-class SQL constraints —
    * DESCRIBE shows them, and ALTER TABLE ADD/DROP CONSTRAINT rides
    * [[TxTable.addCheck]]/[[TxTable.dropCheck]]. Reported VALID:
    * addCheck validated existing rows when the constraint landed, and
    * every data-writing commit enforces since.
    */
  override def constraints()
    : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snap.checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def properties(): util.Map[String, String] =
    (snap.props ++ // user TBLPROPERTIES; engine-computed keys win below
      Map("provider" -> "graft", "location" -> root,
      "version" -> snap.version.toString) ++
      partitionCol.map("partitionCol" -> _) ++
      snap.checks.map { case (n, sql) => s"check.$n" -> sql }).asJava

  /** Stock parquet scan, shimmed with the two manifest-powered scan
    * shapes: an unfiltered COUNT/MIN/MAX (optionally grouped by the
    * partition column) the manifest can answer exactly never opens a
    * data file ([[StatsAgg]]), and under the v2-bucketing flag a
    * partitioned table plans one split per partition value for
    * storage-partitioned joins ([[KeyedLayout]]); everything else is
    * the unmodified ParquetScanBuilder path.
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new org.apache.spark.sql.graft.GraftAggScanBuilder(
      ParquetScanBuilder(spark,
        new GraftPartitioningIndex(spark, root, snap),
        schema(), schema(), options),
      // group-by pushdown needs a partition VALUE = column value, so
      // it is identity-only; ungrouped aggregates work for any layout
      agg => StatsAgg.answer(snap, schema(), identityCol, agg),
      filters => partitionCol.flatMap(spec =>
        KeyedLayout.groups(spark, root, snap, spec, filters)),
      layout.map(l => (l.cols, partitioning().head)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (timeTravel) throw new UnsupportedOperationException(
      s"cannot write to a time-travel snapshot of $root — " +
        "versions are immutable (TxTable.restore makes one current)")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              val s = data.sparkSession
              if (overwrite) TxTable.rewriteAll(s, root, _ => data)
              else TxTable.append(data, root, partitionCol)
            }
          }
      }
    }
  }

  private def refuseTimeTravel(op: String): Unit =
    if (timeTravel) throw new UnsupportedOperationException(
      s"cannot $op a time-travel snapshot of $root — versions are " +
        "immutable (TxTable.restore makes one current)")

  /** SQL DELETE / UPDATE / MERGE: Spark rewrites the command to a
    * group-based copy-on-write over this operation (see
    * [[GraftRowLevelOperation]]); the pinned `snap` gives the whole
    * statement snapshot isolation, and the commit is refused if the
    * table moved past it.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseTimeTravel(info.command().toString)
    // copy-on-write reads raw parquet, so a merge-on-read snapshot's
    // position deletes are MATERIALIZED first (rewrites only the
    // DV-affected files) and the operation pins the post-materialize
    // snapshot; a concurrent DV landing between the two fails the
    // statement loudly (commitReplace's dv-equality disjointness)
    // renamed columns refuse copy-on-write DML outright: the rewrite
    // scan reads raw parquet, which would null the renamed column in
    // pre-rename files — localize first (full rewrite, explicit cost)
    if (snap.aliases.nonEmpty) throw new UnsupportedOperationException(
      s"row-level ${info.command()} on $root: column(s) " +
        s"${snap.aliases.keys.mkString(", ")} were renamed metadata-only " +
        "and old data files still carry the historical name — run " +
        "CALL rewrite_table to localize the rename first")
    DeltaDml.mode(spark, snap) match {
      // merge-on-read: Spark plans the delta-based rewrite
      // (WriteDelta) — position deletes + post-image appends, write
      // ∝ changed rows; existing DVs merge inside the delta scan, so
      // no pre-materialize is needed
      case "mor" =>
        // the delta row id IS the (_file, _pos) lineage pair; a table
        // claiming those names hides the metadata columns, so the row
        // id would resolve to the nullable user columns and fail with
        // an unactionable NULLABLE_ROW_ID error deep in the rewrite —
        // refuse here with the real reason instead
        if (schema().fieldNames.exists(n =>
            n.equalsIgnoreCase(DeltaDml.FileCol) ||
              n.equalsIgnoreCase(DeltaDml.PosCol)))
          throw new UnsupportedOperationException(
            s"row-level ${info.command()} (mor) on $root: the table's " +
              s"own schema claims ${DeltaDml.FileCol}/${DeltaDml.PosCol}, " +
              "which merge-on-read DML needs as row-lineage metadata " +
              "columns — rename the columns or use the copy-on-write " +
              "mode (spark.graft.dml.mode=cow)")
        () => new GraftDeltaOperation(spark, root, snap, partitionCol,
          info.command())
      case _ =>
        val opSnap =
          if (snap.dvs.isEmpty) snap
          else {
            MergeOnRead.materialize(spark, root)
            TxTable.requireSnapshot(spark, root)
          }
        // bucket layouts are first-class here since round 7: the
        // replaced group is a bucket directory, pruned via the source
        // column (candidate enumeration + Spark's runtime group filter)
        () => new GraftRowLevelOperation(spark, root, opSnap, partitionCol,
          info.command())
    }
  }

  /** Metadata-only DELETE: accepted iff every conjunct is provably
    * partition-uniform (interpretable against the partition column
    * alone) — then whole partitions drop in ONE metadata commit with
    * zero data movement. Anything else falls back to the copy-on-write
    * rewrite above. `TRUNCATE TABLE` arrives here as ALWAYS_TRUE.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Boolean =
    !timeTravel && (identityCol match {
      case Some(c) =>
        val dt = schema()(c).dataType
        predicates.forall(p =>
          PartitionPredicates.interpret(c, dt, p).isDefined)
      // unpartitioned AND bucket layouts: only TRUNCATE is
      // metadata-expressible (a bucket id is opaque to row predicates)
      case None => predicates.forall(_.name() == "ALWAYS_TRUE")
    })

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Unit = {
    refuseTimeTravel("DELETE from")
    // metadata delete executes against the CURRENT table (unlike the
    // rewrite path there is no scanned data to go stale against); the
    // fresh resolve still pins the commit via expectedVersion
    val cur = TxTable.currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed graft table at $root"))
    val drop: Set[String] = identityCol match {
      case Some(c) =>
        val dt = schema()(c).dataType
        val fs = predicates.toSeq.map(p =>
          PartitionPredicates.interpret(c, dt, p).getOrElse(
            throw new UnsupportedOperationException(
              s"metadata DELETE got an uninterpretable predicate: $p")))
        cur.entries.map(_.partition).distinct.filter { part =>
          PartitionPredicates.dropForDelete(fs,
            PartitionPredicates.partitionValue(part, dt))
        }.toSet
      case None =>
        require(predicates.forall(_.name() == "ALWAYS_TRUE"),
          "metadata DELETE on an unpartitioned or bucket-partitioned " +
            "graft table supports only TRUNCATE (unconditional)")
        cur.entries.map(_.partition).toSet
    }
    TxTable.commitReplace(spark, root, cur.version, drop, Nil,
      "DELETE (metadata-only)")
  }

  override def toString: String = name()
}

/** [[GraftFileIndex]] wearing the `PartitioningAwareFileIndex` shape
  * DSv2's `ParquetScanBuilder` requires. `listFiles` delegates, so
  * manifest-stats file skipping drives the DSv2 scan exactly as it
  * drives the V1 relation; the leaf maps exist only for the base
  * class's schema-inference paths, which a manifest-schema'd table
  * never takes.
  */
private[graft] final class GraftPartitioningIndex(
    spark: SparkSession, root: String, snap: TxTable.Snapshot)
  extends PartitioningAwareFileIndex(
    spark, Map.empty, Some(snap.schema)) {

  private[graft] val delegate = new GraftFileIndex(spark, root, snap)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def leafFiles: scala.collection.mutable.LinkedHashMap[
    Path, org.apache.hadoop.fs.FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[Path, org.apache.hadoop.fs.FileStatus]
    delegate.listFiles(Nil, Nil).foreach(_.files.foreach { f =>
      m(f.getPath) = f.fileStatus
    })
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    leafFiles.values.toArray.groupBy(_.getPath.getParent)

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    delegate.listFiles(partitionFilters, dataFilters)

  override def rootPaths: Seq[Path] = delegate.rootPaths

  override def inputFiles: Array[String] = delegate.inputFiles

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = delegate.sizeInBytes
}

/** `bucket(N, col)` as a DSv2 scalar function — the layout's bucket
  * function ([[Layout.hashFold]] pmod N), byte-identical to the write
  * path's [[Layout.dirColumn]]. Registered through [[GraftCatalog]]'s
  * FunctionCatalog so Spark's storage-partitioned-join planning can
  * bind the reported bucket transform; two scans bound to this
  * function (same `canonicalName`) compare as compatible
  * partitionings.
  */
private[sources] object GraftBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(N, col): pmod(murmur3(col), N) — the graft bucket layout"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket takes (numBuckets, col...), got ${inputType.catalogString}")
    val dts = inputType.fields.drop(1).map(_.dataType)
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        IntegerType +: dts
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer =
        Layout.bucketOf(
          Layout.hashFold(dts)(i => input.get(i + 1, dts(i))), input.getInt(0))
    }
  }
}
