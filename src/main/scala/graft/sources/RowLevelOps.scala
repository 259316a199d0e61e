package graft.sources

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder, Expression => V2Expression, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownV2Filters, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL row-level operations (`DELETE FROM` / `UPDATE` / `MERGE INTO`)
  * on graft tables — PARTITION-GRANULARITY COPY-ON-WRITE, the design
  * the reference's set-based MERGE guidance implies at warehouse scale
  * (reference: …Глава 6….md's staged-MERGE pattern; Spark-first
  * realization via the DSv2 row-level-operation API):
  *
  *   - Spark's analyzer rewrites the command to a group-based
  *     `ReplaceData` plan over [[GraftRowLevelOperation]]'s scan/write
  *     pair (no SupportsDelta ⇒ copy-on-write, the right default for
  *     an immutable-file parquet format).
  *   - The REPLACED GROUP is a partition. [[GraftCowScan]] prunes the
  *     pinned snapshot's manifest entries to partitions that can
  *     contain matching rows — statically from the command condition's
  *     partition-column conjuncts ([[GraftCowScanBuilder.pushPredicates]])
  *     and at runtime via Spark's row-level-operation group filter
  *     ([[GraftCowScan.filter]], `SupportsRuntimeV2Filtering`: Spark
  *     runs `SELECT DISTINCT p WHERE cond` and hands back the touched
  *     partition values). At 100 TB a DELETE touching 3 of 10,000
  *     partitions scans and rewrites exactly 3.
  *   - [[GraftCowBatchWrite]] writes surviving + updated + inserted
  *     rows as fresh immutable parquet (executor-side, one writer per
  *     partition per task; `RequiresDistributionAndOrdering` requests
  *     partition-clustered input so a partition's rows land in few
  *     files), then commits via [[TxTable.commitReplace]]: ONE
  *     manifest commit swaps the scanned partitions' file sets, pinned
  *     to the snapshot version the scan read — a concurrent commit in
  *     between fails the whole statement loudly (optimistic
  *     concurrency, same contract as every TxTable write).
  *
  * The metadata-only fast path: `GraftV2Table` also implements
  * `SupportsDeleteV2`, so a DELETE whose condition touches ONLY the
  * partition column (provably partition-uniform) never rewrites a
  * byte — Spark's `OptimizeMetadataOnlyDeleteFromTable` collapses the
  * plan and [[PartitionPredicates]] drops whole partitions in one
  * metadata commit. SQL `TRUNCATE TABLE` rides the same path.
  */
private[sources] object PartitionPredicates {

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Decode a manifest entry's partition string (`p=<escaped>`) to the
    * partition column's EXTERNAL Scala value (null for the null
    * partition). LEGACY-mode cast: an unparseable segment degrades to
    * null (= "unknown", never pruned/dropped), not to an error.
    */
  def partitionValue(entryPartition: String, dt: DataType): Any = {
    val raw = entryPartition.split("=", 2) match {
      case Array(_, v) => GraftColumnBridge.unescapePartitionValue(v)
      case _ => return null
    }
    if (raw == NullPartition) return null
    val internal = Cast(Literal(UTF8String.fromString(raw), StringType), dt,
      Some("UTC"), EvalMode.LEGACY).eval(null)
    CatalystTypeConverters.createToScalaConverter(dt)(internal)
  }

  /** Compile a V2 predicate into an evaluator over the partition
    * column's external value, SQL three-valued: Some(true/false) =
    * definite, None = SQL NULL. Outer None = NOT interpretable against
    * the partition column alone (references another column, an
    * unsupported function, a type-mismatched literal) — callers must
    * then treat the predicate as undecidable per-partition.
    */
  def interpret(
      partCol: String, dt: DataType,
      p: V2Predicate): Option[Any => Option[Boolean]] = {

    def asPred(e: V2Expression): Option[V2Predicate] = e match {
      case q: V2Predicate => Some(q)
      case _ => None
    }
    def refIsPart(e: V2Expression): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames.head.equalsIgnoreCase(partCol)
      case _ => false
    }
    // external-converted literal; inner None = SQL NULL literal
    def litOf(e: V2Expression): Option[Option[Any]] = e match {
      case l: V2Literal[_] if l.value == null => Some(None)
      case l: V2Literal[_] if l.dataType == dt =>
        Some(Option(CatalystTypeConverters.createToScalaConverter(dt)(l.value)))
      case _ => None
    }
    def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

    def binary(sign: Int => Boolean): Option[Any => Option[Boolean]] = {
      val c = p.children()
      if (c.length != 2) return None
      val (litE, flip) =
        if (refIsPart(c(0))) (c(1), false)
        else if (refIsPart(c(1))) (c(0), true)
        else return None
      litOf(litE).map {
        case None => _ => None // comparison with NULL is NULL
        case Some(lv) => v =>
          if (v == null) None
          else Some(sign(if (flip) cmp(lv, v) else cmp(v, lv)))
      }
    }

    p.name() match {
      case "ALWAYS_TRUE" => Some(_ => Some(true))
      case "ALWAYS_FALSE" => Some(_ => Some(false))
      case "AND" =>
        for {
          l <- asPred(p.children()(0)).flatMap(interpret(partCol, dt, _))
          r <- asPred(p.children()(1)).flatMap(interpret(partCol, dt, _))
        } yield { v: Any =>
          (l(v), r(v)) match {
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case (Some(true), Some(true)) => Some(true)
            case _ => None
          }
        }
      case "OR" =>
        for {
          l <- asPred(p.children()(0)).flatMap(interpret(partCol, dt, _))
          r <- asPred(p.children()(1)).flatMap(interpret(partCol, dt, _))
        } yield { v: Any =>
          (l(v), r(v)) match {
            case (Some(true), _) | (_, Some(true)) => Some(true)
            case (Some(false), Some(false)) => Some(false)
            case _ => None
          }
        }
      case "NOT" =>
        asPred(p.children()(0)).flatMap(interpret(partCol, dt, _))
          .map(f => (v: Any) => f(v).map(!_))
      case "IS_NULL" if p.children().length == 1 && refIsPart(p.children()(0)) =>
        Some(v => Some(v == null))
      case "IS_NOT_NULL" if p.children().length == 1 && refIsPart(p.children()(0)) =>
        Some(v => Some(v != null))
      case "=" => binary(_ == 0)
      case "<>" => binary(_ != 0)
      case "<" => binary(_ < 0)
      case "<=" => binary(_ <= 0)
      case ">" => binary(_ > 0)
      case ">=" => binary(_ >= 0)
      case "<=>" =>
        val c = p.children()
        if (c.length != 2) return None
        val litE =
          if (refIsPart(c(0))) c(1)
          else if (refIsPart(c(1))) c(0)
          else return None
        litOf(litE).map {
          case None => v => Some(v == null)
          case Some(lv) => v => Some(v != null && cmp(v, lv) == 0)
        }
      case "IN" =>
        val c = p.children()
        if (c.length < 2 || !refIsPart(c(0))) return None
        val lits = c.drop(1).map(litOf)
        if (lits.exists(_.isEmpty)) return None
        val hasNull = lits.exists(_.contains(None))
        val set = lits.flatten.flatten.toSet
        Some { v =>
          if (v == null) None
          else if (set.contains(v)) Some(true)
          else if (hasNull) None // x IN (…, NULL) is NULL when unmatched
          else Some(false)
        }
      case _ => None
    }
  }

  /** Partition-pruning decision for a copy-on-write scan: a partition
    * may be dropped from the scan (⇒ not replaced) only when the
    * predicate PROVABLY matches no row in it — Some(false). Unknown
    * (None — null partition values, NULL literals) keeps the
    * partition: scanning and rewriting an extra partition is wasted
    * work, never wrong; dropping a matching one loses rows.
    */
  def keepForScan(fs: Seq[Any => Option[Boolean]], v: Any): Boolean =
    fs.forall(f => !f(v).contains(false))

  /** Metadata-delete decision: rows are deleted iff the condition is
    * TRUE, so a partition's files may be dropped without rewrite only
    * when every conjunct is definitely Some(true) on its (uniform)
    * partition value — exact SQL semantics, no rewrite to fall back
    * on.
    */
  def dropForDelete(fs: Seq[Any => Option[Boolean]], v: Any): Boolean =
    fs.forall(f => f(v).contains(true))

  /** The EXACT candidate set of `col` values a predicate's matching
    * rows can take, when it is enumerable: `c = lit`, `c <=> lit`,
    * `c IN (lits)`, AND (either enumerable side — matching rows are a
    * subset of it), OR (both sides). None = not enumerable (imposes no
    * constraint). Soundness contract for bucket-group pruning: the
    * returned set may OVER-approximate (keeps extra groups — wasted
    * rewrite, never wrong) but never under-approximates — a matching
    * row outside the returned candidates would make the caller drop a
    * group that still holds live rows. A `None` element is the SQL
    * NULL value (only `<=>` can produce it; `=`/`IN` against NULL
    * match nothing).
    */
  def candidateValues(
      col: String, dt: DataType,
      p: V2Predicate): Option[Seq[Option[Any]]] = {
    def asPred(e: V2Expression): Option[V2Predicate] = e match {
      case q: V2Predicate => Some(q)
      case _ => None
    }
    def refIs(e: V2Expression): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames.head.equalsIgnoreCase(col)
      case _ => false
    }
    def litOf(e: V2Expression): Option[Option[Any]] = e match {
      case l: V2Literal[_] if l.value == null => Some(None)
      case l: V2Literal[_] if l.dataType == dt =>
        Some(Option(CatalystTypeConverters.createToScalaConverter(dt)(l.value)))
      case _ => None
    }
    def sideLit: Option[Option[Any]] = {
      val c = p.children()
      if (c.length != 2) None
      else if (refIs(c(0))) litOf(c(1))
      else if (refIs(c(1))) litOf(c(0))
      else None
    }
    p.name() match {
      case "ALWAYS_FALSE" => Some(Seq.empty)
      case "=" => sideLit.map {
        case None => Seq.empty // c = NULL matches no row
        case some => Seq(some)
      }
      case "<=>" => sideLit.map(Seq(_))
      case "IN" =>
        val c = p.children()
        if (c.length < 2 || !refIs(c(0))) return None
        val lits = c.drop(1).map(litOf)
        if (lits.exists(_.isEmpty)) return None
        // a NULL element can only yield NULL, never TRUE — matching
        // rows take values from the non-null literals alone
        Some(lits.flatten.filter(_.isDefined).toSeq)
      case "AND" =>
        val l = asPred(p.children()(0)).flatMap(candidateValues(col, dt, _))
        val r = asPred(p.children()(1)).flatMap(candidateValues(col, dt, _))
        (l, r) match {
          case (Some(a), Some(b)) => Some(a.toSet.intersect(b.toSet).toSeq)
          case (a, b) => a.orElse(b)
        }
      case "OR" =>
        for {
          a <- asPred(p.children()(0)).flatMap(candidateValues(col, dt, _))
          b <- asPred(p.children()(1)).flatMap(candidateValues(col, dt, _))
        } yield (a.toSet ++ b.toSet).toSeq
      case _ => None
    }
  }
}

/** Driver-side bucket-id evaluation for group pruning — the layout's
  * own bucket function ([[Layout.hashFold]] pmod N, the one the write
  * paths place by), so pruning and placement can never disagree.
  */
private[graft] object BucketIds {

  /** Cross-product ceiling for composite candidate enumeration: a
    * bound bigger than this stops pruning (keep everything) rather
    * than materializing a huge id set.
    */
  val MaxCandidates = 4096

  /** The bucket ids of the CROSS PRODUCT of per-column candidate
    * Catalyst values (one candidate list per layout column, IN SPEC
    * ORDER; a null value hashes to the running seed, exactly as
    * `functions.hash(null, …)` does). None past [[MaxCandidates]]
    * tuples: the caller keeps every bucket.
    */
  def idsOf(perCol: Seq[Seq[(Any, DataType)]], n: Int): Option[Set[Int]] =
    if (perCol.map(_.size.toLong).product > MaxCandidates) None
    else Some(perCol
      .foldLeft(Seq(Seq.empty[(Any, DataType)])) { (acc, vals) =>
        acc.flatMap(pre => vals.map(pre :+ _))
      }
      .map(t => Layout.bucketOf(Layout.hashFold(t.map(_._2))(t.map(_._1)), n))
      .toSet)

  /** The ordinary-read twin of `candidateValues`: bound the live
    * bucket-id set from the OPTIMIZER's pushed dataFilters (catalyst
    * shapes — resolved attributes, folded literals, `In`→`InSet`
    * conversion already applied). None = the filters cannot bound the
    * set. Same soundness contract: over-approximate is safe,
    * under-approximate impossible — only exact value enumeration
    * (equality, IN/INSET, null-safe equality, AND/OR closure)
    * produces a bound.
    *
    * COMPOSITE keys: every layout column must be enumerable (the hash
    * folds over all of them, so one unbounded column makes every
    * bucket reachable); the id set is the hash of the per-column
    * candidate CROSS PRODUCT, refused past [[MaxCandidates]]. The
    * per-column sets come from independent conjuncts, so the product
    * over-approximates correlated predicates — safe by contract.
    */
  def allowedByFilters(
      cols: Seq[String], n: Int,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    : Option[Set[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, In, InSet, Or}
    // candidate CATALYST values matching rows can take, per conjunct;
    // `= NULL` matches nothing (empty), `<=> NULL` matches null rows
    def cands(col: String)(e: Expression): Option[Seq[(Any, DataType)]] = {
      def isCol(x: Expression): Boolean = x match {
        case a: AttributeReference => a.name.equalsIgnoreCase(col)
        case _ => false
      }
      e match {
        case EqualTo(a: AttributeReference, Literal(v, _)) if isCol(a) =>
          Some(if (v == null) Nil else Seq((v, a.dataType)))
        case EqualTo(Literal(v, _), a: AttributeReference) if isCol(a) =>
          Some(if (v == null) Nil else Seq((v, a.dataType)))
        case EqualNullSafe(a: AttributeReference, Literal(v, _)) if isCol(a) =>
          Some(Seq((v, a.dataType)))
        case EqualNullSafe(Literal(v, _), a: AttributeReference) if isCol(a) =>
          Some(Seq((v, a.dataType)))
        case In(a: AttributeReference, list)
            if isCol(a) && list.forall(_.isInstanceOf[Literal]) =>
          Some(list.collect {
            case Literal(v, _) if v != null => (v, a.dataType)
          })
        case InSet(a: AttributeReference, hset) if isCol(a) =>
          Some(hset.filter(_ != null).toSeq.map(v => (v, a.dataType)))
        case And(l, r) =>
          (cands(col)(l), cands(col)(r)) match {
            case (Some(a), Some(b)) => Some(a.toSet.intersect(b.toSet).toSeq)
            case (a, b) => a.orElse(b)
          }
        case Or(l, r) =>
          for { a <- cands(col)(l); b <- cands(col)(r) }
            yield (a.toSet ++ b.toSet).toSeq
        case _ => None
      }
    }
    // per-column bound = intersection over all conjuncts that bound it
    val perCol: Seq[Seq[(Any, DataType)]] = cols.map { c =>
      val bounds = filters.flatMap(f => cands(c)(f).map(_.toSet))
      if (bounds.isEmpty) return None // this column is unbounded
      bounds.reduce(_ intersect _).toSeq
    }
    idsOf(perCol, n)
  }
}

/** Layout-group pruning shared by the copy-on-write scan
  * ([[GraftCowScan]]) and the merge-on-read delta scan
  * ([[GraftDeltaScan]]): which pushed predicates can bound the group
  * set, and which manifest entries survive a predicate set. Pruning
  * is at GROUP granularity and always over-approximates — dropping a
  * group that could hold a match would silently lose rows.
  */
private[sources] object GroupPrune {

  /** The predicates worth reporting as pushed: interpretable
    * partition-column conjuncts (identity layout) or
    * candidate-enumerable source-column conjuncts (bucket layout —
    * a predicate helps when it enumerates ANY layout column; full
    * pruning needs all of them, decided in [[prune]] which sees every
    * pushed predicate at once).
    */
  def pushable(
      layout: Option[Layout.Kind], schema: StructType,
      predicates: Array[V2Predicate]): Array[V2Predicate] =
    layout match {
      case Some(Layout.Identity(c)) =>
        val dt = schema(c).dataType
        predicates.filter(p =>
          PartitionPredicates.interpret(c, dt, p).isDefined)
      case Some(Layout.Bucket(_, cs)) =>
        predicates.filter(p => cs.exists(c =>
          PartitionPredicates.candidateValues(c, schema(c).dataType, p)
            .isDefined))
      case None => Array.empty
    }

  /** The entries whose group can possibly hold a match for `preds`.
    * `valueOf` maps an entry's partition string to its group value
    * (memoized by the caller — entry counts are manifest-scale,
    * distinct partitions far fewer).
    */
  def prune(
      layout: Option[Layout.Kind], schema: StructType,
      es: Seq[TxTable.Entry], preds: Array[V2Predicate],
      valueOf: String => Any): Seq[TxTable.Entry] =
    layout match {
      case Some(Layout.Identity(c)) if preds.nonEmpty =>
        val dt = schema(c).dataType
        val fs = preds.toSeq.flatMap(p =>
          PartitionPredicates.interpret(c, dt, p))
        es.filter(e =>
          PartitionPredicates.keepForScan(fs, valueOf(e.partition)))
      case Some(Layout.Bucket(n, cs)) if preds.nonEmpty =>
        // every layout column needs a candidate bound (per column:
        // intersection across the conjuncts that enumerate it); the
        // allowed ids are the hash of the bounded CROSS PRODUCT —
        // over-approximate for correlated predicates, never under.
        // Candidates are external values (None = SQL NULL), converted
        // to the Catalyst values the bucket function hashes.
        val perCol = cs.map { c =>
          val dt = schema(c).dataType
          val bounds = preds.toSeq.flatMap(p =>
            PartitionPredicates.candidateValues(c, dt, p).map(_.toSet))
          val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
          if (bounds.isEmpty) None
          else Some(bounds.reduce(_ intersect _).toSeq
            .map(v => (v.map(toCatalyst).orNull, dt)))
        }
        (if (perCol.exists(_.isEmpty)) None
         else BucketIds.idsOf(perCol.flatten, n)) match {
          case Some(allowed) =>
            es.filter(e => valueOf(e.partition) match {
              case i: Int => allowed.contains(i)
              case _ => true // unparseable id: keep (never wrong)
            })
          case None => es
        }
      case _ => es
    }
}

/** Scan half of the copy-on-write pair. Built over the PINNED snapshot
  * (statement-scoped isolation); `entries` narrows monotonically:
  * statically from the command condition's partition conjuncts, then
  * at runtime when Spark's group filter hands back the partition
  * values that actually contain matching rows. `toBatch` is a def —
  * Spark re-plans input partitions after runtime filtering — and
  * delegates to the same manifest-backed vectorized parquet scan the
  * ordinary read path uses. [[replacedPartitions]] (read at commit
  * time) is the group set the write swaps.
  */
private[sources] final class GraftCowScanBuilder(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], onBuild: GraftCowScan => Unit)
  extends ScanBuilder with SupportsPushDownV2Filters {

  private val schema = snap.schema
  private var pushed: Array[V2Predicate] = Array.empty

  /** Group selection only: interpretable partition-column conjuncts
    * (identity layout) or candidate-enumerable source-column conjuncts
    * (bucket layout) prune which groups the operation scans AND
    * REPLACES. Every predicate is reported back as not-handled so the
    * full condition stays in the plan — pruning here is at group
    * granularity, and row-level work belongs above the scan (dropping
    * rows here would silently delete the unmatched rows of a replaced
    * group).
    */
  override def pushPredicates(
      predicates: Array[V2Predicate]): Array[V2Predicate] = {
    pushed = GroupPrune.pushable(
      partitionCol.map(Layout.parse), schema, predicates)
    predicates
  }

  override def pushedPredicates(): Array[V2Predicate] = pushed

  override def build(): Scan = {
    val s = new GraftCowScan(spark, root, snap, partitionCol, schema, pushed)
    onBuild(s)
    s
  }
}

private[sources] final class GraftCowScan(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], schema: StructType,
    staticPreds: Array[V2Predicate])
  extends Scan with SupportsRuntimeV2Filtering {

  private val layout = partitionCol.map(Layout.parse)
  // group-key type as it appears in entry partition strings: the
  // column's own type for identity, the bucket id (int) for buckets
  private val partDt = layout.map(_.partType(schema))

  // memoized per distinct partition string — entry counts are
  // manifest-scale, distinct partitions far fewer
  private val valueCache = mutable.HashMap.empty[String, Any]
  private def valueOf(partition: String): Any =
    valueCache.getOrElseUpdate(partition,
      PartitionPredicates.partitionValue(partition, partDt.get))

  private def prune(
      es: Seq[TxTable.Entry], preds: Array[V2Predicate]): Seq[TxTable.Entry] =
    GroupPrune.prune(layout, schema, es, preds, valueOf)

  @volatile private var entries: Seq[TxTable.Entry] =
    prune(snap.entries, staticPreds)

  /** The groups this operation replaces — exactly the partitions the
    * (pruned) scan enumerates.
    */
  def replacedPartitions: Set[String] = entries.map(_.partition).toSet

  override def readSchema(): StructType = schema

  /** Runtime group filtering keys on the layout's SOURCE column:
    * Spark collects the distinct values among matching rows and
    * [[filter]] maps them to groups (identity: the value IS the
    * group; bucket: value → bucket id).
    *
    * Scale posture: for IDENTITY layouts the collected set is bounded
    * by the partition count (the filter attribute is the partition
    * column). For BUCKET layouts the attribute is the raw key, so the
    * distinct set is bounded only by the matching keys — fine for
    * selective conditions, a driver-memory risk for broad ones
    * (`SupportsRuntimeV2Filtering` cannot name a derived bucket-id
    * column). Two mitigations: (a) when static candidate enumeration
    * already bounded the bucket set ([[GraftCowScanBuilder
    * .pushPredicates]] matched), runtime filtering is SKIPPED — the
    * static bound is tight for equality/IN shapes and this saves the
    * whole distinct-subquery job; (b) for broad scattered predicates
    * the scale answer is the merge-on-read leg ([[MergeOnRead
    * .deleteWhere]]), which plans no group filter at all.
    */
  override def filterAttributes(): Array[NamedReference] =
    layout match {
      case Some(b: Layout.Bucket) if staticPreds.nonEmpty => Array.empty
      // composite bucket keys: a single column's distinct values can
      // never bound the folded hash, so the subquery would be wasted
      case Some(b: Layout.Bucket) if b.cols.length > 1 => Array.empty
      case other => other.map(l => Expressions.column(l.col)).toArray
    }

  override def filter(predicates: Array[V2Predicate]): Unit =
    entries = prune(entries, predicates)

  override def toBatch: Batch =
    ParquetScanBuilder(spark,
      new GraftPartitioningIndex(spark, root, snap.copy(entries = entries)),
      schema, schema, CaseInsensitiveStringMap.empty()).build().toBatch

  override def description(): String =
    s"GraftCowScan $root@v${snap.version} " +
      s"(${entries.size}/${snap.entries.size} files)"
}

/** A task's finished data files as stat-less manifest entries —
  * relative to the table root, `partition` in the manifest's
  * `col=<escaped>` form. The batch commit reads their footer stats
  * ([[TxTable.withFooterStats]]).
  */
private[sources] final case class GraftCowCommitMessage(
    files: Seq[TxTable.Entry]) extends WriterCommitMessage

/** Write half. Requests (non-strict) clustering on the partition
  * column so each partition's surviving rows land in few writer tasks
  * — AQE sizes the exchange; without it every task could hold a writer
  * per partition and a K-partition rewrite would fan out K×tasks small
  * files.
  */
private[sources] final class GraftCowWrite(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], scanOf: () => Option[GraftCowScan],
    writeSchema: StructType, command: String)
  extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    partitionCol.map(Layout.parse) match {
      // bucket layouts cluster on the bucket TRANSFORM (resolved
      // through the catalog's own bucket function): each touched
      // bucket's surviving rows land in ONE task → one rewritten file
      // per group, not one per task that saw the group
      case Some(Layout.Bucket(n, cs)) =>
        Distributions.clustered(
          Array[V2Expression](Expressions.bucket(n, cs: _*)))
      // identity layouts cluster on the partition column itself
      case Some(l) =>
        Distributions.clustered(Array[V2Expression](Expressions.column(l.col)))
      case None => Distributions.unspecified()
    }

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite =
    new GraftCowBatchWrite(spark, root, snap, partitionCol, scanOf,
      writeSchema, command)

  override def description(): String = s"graft copy-on-write $command"
}

/** Shared setup for executor-side task-level parquet writes (the
  * copy-on-write rewrite and the merge-on-read delta write): a hadoop
  * conf carrying the write schema plus the session parquet settings
  * `ParquetWriteSupport.init` requires with NO default (the file
  * format's prepareWrite sets them; these write paths own that here),
  * so task-written files are bit-compatible with every other file in
  * the table.
  */
private[sources] object TaskParquet {

  def prepare(spark: SparkSession, writeSchema: StructType)
    : (SerializableWritable[Configuration], String, String) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ParquetWriteSupport.setSchema(writeSchema, conf)
    val sc = org.apache.spark.sql.internal.SQLConf.get
    import org.apache.spark.sql.internal.SQLConf._
    conf.setBoolean(PARQUET_WRITE_LEGACY_FORMAT.key,
      sc.getConf(PARQUET_WRITE_LEGACY_FORMAT))
    conf.set(PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sc.getConf(PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.setBoolean(PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sc.getConf(PARQUET_FIELD_ID_WRITE_ENABLED))
    conf.setBoolean(PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sc.getConf(PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE))
    val codec = Try(CompressionCodecName.valueOf(
      spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
        .toUpperCase(java.util.Locale.ROOT) match {
        case "NONE" | "UNCOMPRESSED" => "UNCOMPRESSED"
        case other => other
      })).getOrElse(CompressionCodecName.SNAPPY)
    (new SerializableWritable(conf), codec.name(), sc.sessionLocalTimeZone)
  }

  /** Open one task parquet file with Spark's own write support — the
    * exact writer shape [[GraftCowDataWriter.open]] uses.
    */
  def open(path: Path, conf: Configuration,
      codecName: String): ParquetWriter[InternalRow] =
    new ParquetWriter[InternalRow](path, new ParquetWriteSupport,
      CompressionCodecName.valueOf(codecName),
      ParquetWriter.DEFAULT_BLOCK_SIZE, ParquetWriter.DEFAULT_PAGE_SIZE,
      ParquetWriter.DEFAULT_PAGE_SIZE, true, false,
      ParquetProperties.WriterVersion.PARQUET_1_0, conf)
}

private[sources] final class GraftCowBatchWrite(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], scanOf: () => Option[GraftCowScan],
    writeSchema: StructType, command: String)
  extends BatchWrite {

  private val relDir = s"data/${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (conf, codecName, tz) = TaskParquet.prepare(spark, writeSchema)
    new GraftCowWriterFactory(conf, root, relDir, snap.schemaDdl,
      partitionCol, codecName, tz)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = TxTable.withFooterStats(spark, root, messages.collect {
      case m: GraftCowCommitMessage => m.files
    }.flatten.toSeq)
    // the groups the (runtime-filtered) scan read are the groups this
    // commit replaces; a write planned without a scan (cannot happen
    // through Spark's rewrites, but stay safe) replaces everything
    val replaced = scanOf().map(_.replacedPartitions)
      .getOrElse(snap.entries.map(_.partition).toSet)
    TxTable.commitReplace(spark, root, snap.version, replaced, fresh,
      s"SQL $command")
  }

  // every task file lives under relDir
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MergeOnRead.discardDirs(spark, root, Seq(relDir))
}

private[sources] final class GraftCowWriterFactory(
    conf: SerializableWritable[Configuration], root: String, relDir: String,
    schemaDdl: String, partitionCol: Option[String], codecName: String,
    timeZoneId: String)
  extends DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftCowDataWriter(conf.value, root, relDir,
      StructType.fromDDL(schemaDdl), partitionCol, codecName,
      s"$partitionId-$taskId", timeZoneId)
}

/** Executor-side parquet writer: one open file per partition value
  * seen by this task (clustered input keeps that near 1), rows encoded
  * by Spark's own `ParquetWriteSupport` so the files are
  * bit-compatible with every other file in the table. File names carry
  * partitionId+taskId — retries write fresh names; losers' files are
  * never referenced and vacuum reclaims them.
  */
private[sources] final class GraftCowDataWriter(
    conf: Configuration, root: String, relDir: String, schema: StructType,
    partitionCol: Option[String], codecName: String, uid: String,
    timeZoneId: String)
  extends DataWriter[InternalRow] {

  private val layout = partitionCol.map(Layout.parse)
  private val partIdx =
    layout.collect { case Layout.Identity(c) => schema.fieldIndex(c) }
      .getOrElse(-1)
  private val partDt: DataType =
    layout.collect { case Layout.Identity(c) => schema(c).dataType }
      .getOrElse(NullType)

  // bucket layout: the layout's own bucket function over the source
  // columns — placement by the rewrite and by ordinary INSERTs can
  // never disagree
  private val bucketOf: Option[InternalRow => Int] =
    layout.collect { case Layout.Bucket(n, cs) =>
      val idx = cs.map(schema.fieldIndex).toArray
      val dts = idx.map(schema(_).dataType).toIndexedSeq
      (row: InternalRow) =>
        Layout.bucketOf(Layout.hashFold(dts)(i => row.get(idx(i), dts(i))), n)
    }

  // dir segment -> (path, writer, manifest partition string)
  private val writers =
    mutable.LinkedHashMap.empty[String, (Path, ParquetWriter[InternalRow], String)]
  private var done = false

  // date/timestamp/decimal/... partition values render EXACTLY as the
  // append path's partitionBy renders directory names — Cast to string
  // in the session time zone (Spark's own dynamic-partition rule) — so
  // CoW-written entries group with append-written entries of the same
  // logical partition, and the read side's partitionValue Cast
  // round-trips them
  private lazy val renderCast =
    Cast(BoundReference(0, partDt, nullable = false), StringType,
      Option(timeZoneId), EvalMode.LEGACY)
  private lazy val renderRow = new GenericInternalRow(1)

  private def partOf(row: InternalRow): (String, String) = {
    bucketOf.foreach { f =>
      val id = f(row)
      return (s"__gtx_part=$id", s"${Layout.BucketPartName}=$id")
    }
    if (partIdx < 0) return ("", "")
    val raw =
      if (row.isNullAt(partIdx)) null
      else partDt match {
        case StringType => row.getUTF8String(partIdx).toString
        case LongType => row.getLong(partIdx).toString
        case IntegerType => row.getInt(partIdx).toString
        case ShortType => row.getShort(partIdx).toString
        case ByteType => row.getByte(partIdx).toString
        case BooleanType => row.getBoolean(partIdx).toString
        case _ =>
          renderRow.update(0, row.get(partIdx, partDt))
          renderCast.eval(renderRow).toString
      }
    val seg =
      if (raw == null) "__HIVE_DEFAULT_PARTITION__"
      else GraftColumnBridge.escapePartitionValue(raw)
    (s"__gtx_part=$seg", s"${partitionCol.get}=$seg")
  }

  // Spark's group-based ReplaceData prepends a `__row_operation` INT
  // to every row and — when the operation declares no metadata
  // attributes — hands the writer the UNPROJECTED row while declaring
  // the projected schema (ReplaceDataExec.writingTask falls back to
  // the plain DataWritingSparkTask unless a metadataProjection
  // exists). Strip it with Spark's own ProjectingInternalRow; any
  // other arity mismatch is a broken plan and must fail loudly.
  private var opStrip: org.apache.spark.sql.catalyst.ProjectingInternalRow = _

  private def aligned(row: InternalRow): InternalRow =
    if (row.numFields == schema.length) row
    else {
      if (opStrip == null) {
        require(row.numFields == schema.length + 1,
          s"graft row-level write: row carries ${row.numFields} fields " +
            s"but the table schema has ${schema.length} — unexpected plan " +
            "shape")
        opStrip = org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, (1 to schema.length).toIndexedSeq)
      }
      opStrip.project(row)
      opStrip
    }

  override def write(row: InternalRow): Unit = {
    val r = aligned(row)
    val (seg, man) = partOf(r)
    writers.getOrElseUpdate(seg, open(seg, man))._2.write(r)
  }

  private def open(
      seg: String, man: String): (Path, ParquetWriter[InternalRow], String) = {
    val dir =
      if (seg.isEmpty) s"$root/$relDir" else s"$root/$relDir/$seg"
    val path = new Path(s"$dir/part-$uid-${writers.size}.parquet")
    (path, TaskParquet.open(path, conf, codecName), man)
  }

  override def commit(): WriterCommitMessage = {
    done = true
    val f = new Path(root).getFileSystem(conf)
    val rootPrefix = {
      val p = f.makeQualified(new Path(root)).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val files = writers.values.toSeq.map { case (p, w, man) =>
      w.close()
      val full = f.makeQualified(p).toUri.getPath
      TxTable.Entry(full.stripPrefix(rootPrefix), man,
        size = f.getFileStatus(p).getLen)
    }
    writers.clear()
    GraftCowCommitMessage(files)
  }

  override def abort(): Unit = {
    done = true
    val f = new Path(root).getFileSystem(conf)
    writers.values.foreach { case (p, w, _) =>
      Try(w.close())
      Try(f.delete(p, false))
    }
    writers.clear()
  }

  override def close(): Unit =
    if (!done) abort() // task died between write and commit/abort
}

/** The operation object Spark's rewrites drive: creates the scan/write
  * pair over ONE pinned snapshot and links them — the scan's
  * (runtime-filtered) partition set is what the write's commit
  * replaces.
  */
private[sources] final class GraftRowLevelOperation(
    spark: SparkSession, root: String, snap: TxTable.Snapshot,
    partitionCol: Option[String], cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  @volatile private var builtScan: Option[GraftCowScan] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(spark, root, snap, partitionCol,
      s => builtScan = Some(s))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val declared = TxTable.normalizedDdl(info.schema())
    val stored = TxTable.normalizedDdl(snap.schema)
    require(declared == stored,
      s"row-level $cmd: schema mismatch — table declares [$stored] " +
        s"but the rewrite produces [$declared]")
    new WriteBuilder {
      override def build(): Write =
        new GraftCowWrite(spark, root, snap, partitionCol,
          () => builtScan, info.schema(), cmd.toString)
    }
  }

  override def description(): String =
    s"graft $cmd $root@v${snap.version} (partition copy-on-write)"
}
