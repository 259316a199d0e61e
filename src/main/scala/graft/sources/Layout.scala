package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** The table's partition layout, persisted as ONE spec string (the
  * catalog's `_graft_partition_col` file and every `partitionCol`
  * parameter on the TxTable write path):
  *
  *   - `col`               — identity: one directory per column value
  *   - `bucket(N,c1[,c2…])` — hash buckets: `pmod(murmur3(c1,c2,…), N)`,
  *                           one directory per bucket id
  *
  * Identity keeps low-cardinality layouts human-addressable (partition
  * ops, metadata DELETE, per-partition CDC). Buckets are the
  * high-cardinality complement: a join key like `custkey` can never
  * partition by value at 100 TB, but 256 hash buckets give
  * storage-partitioned joins the same zero-shuffle plan with bounded
  * partition count. COMPOSITE keys (`bucket(N, c1, c2)`) serve
  * multi-column primary keys (the reference's migration scripts key
  * several tables on two columns): the bucket function is Spark's own
  * Murmur3 fold over the columns IN SPEC ORDER (`functions.hash(c1,
  * c2)`, seed 42, each column's hash seeding the next) — the write
  * path uses the Column form below and the SQL catalog exposes the
  * identical scalar function for Spark's key-grouped planning, so the
  * two can never disagree.
  *
  * The spec string grammar is append-only: an unrecognized spec parses
  * as an identity column (the pre-bucket behavior, so every existing
  * manifest and layout file keeps its meaning), and single-column
  * bucket specs keep their exact pre-composite semantics.
  */
private[graft] object Layout {

  /** Directory name used for bucket partitions in manifest entries and
    * on disk (`_bucket=7`). Underscore-prefixed so it can never
    * collide with a data column that exists in the schema (identity
    * layouts use the real column name).
    */
  val BucketPartName = "_bucket"

  private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r

  sealed trait Kind {
    /** The data columns the layout derives from, in hash order. */
    def cols: Seq[String]
    /** The FIRST (often only) layout column — the single-column call
      * sites' view; composite-aware code paths use [[cols]].
      */
    def col: String = cols.head
    /** Partition-directory name (`col` or `_bucket`). */
    def partName: String
    /** Type of the partition value in manifest entry strings. */
    def partType(schema: StructType): DataType
  }
  final case class Identity(override val col: String) extends Kind {
    def cols: Seq[String] = Seq(col)
    def partName: String = col
    def partType(schema: StructType): DataType = schema(col).dataType
  }
  final case class Bucket(n: Int, cols: Seq[String]) extends Kind {
    def partName: String = BucketPartName
    def partType(schema: StructType): DataType = IntegerType
  }
  object Bucket {
    def apply(n: Int, col: String): Bucket = Bucket(n, Seq(col))
  }

  def parse(spec: String): Kind = spec match {
    case BucketRe(n, cs) =>
      Bucket(n.toInt, cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case c => Identity(c)
  }

  /** Render a bucket layout back to its canonical spec string. */
  def bucketSpec(n: Int, cols: Seq[String]): String =
    s"bucket($n,${cols.mkString(",")})"

  /** The partition-directory value as a Column over `df` — the
    * write-side definition of the layout function, and the Column form
    * of [[hashFold]] pmod N.
    */
  def dirColumn(df: DataFrame, spec: String): Column = parse(spec) match {
    case Identity(c) => df(c)
    case Bucket(n, cs) => pmod(hash(cs.map(df(_)): _*), lit(n))
  }

  /** The bucket function's hash over Catalyst values — Spark's Murmur3
    * fold (`functions.hash`: seed 42, each column's hash seeding the
    * next, a null keeping the running seed). `value(i)` is the i-th
    * layout column's value, of type `dts(i)`. Every row- and
    * value-level bucket evaluation (pruning, task-side placement, the
    * catalog's `bucket` function) goes through here.
    */
  def hashFold(dts: Seq[DataType])(value: Int => Any): Int = {
    var h = 42L
    var i = 0
    while (i < dts.length) {
      h = Murmur3HashFunction.hash(value(i), dts(i), h)
      i += 1
    }
    h.toInt
  }

  /** `pmod(h, n)`: the bucket id of hash `h` among `n` buckets. */
  def bucketOf(h: Int, n: Int): Int = ((h % n) + n) % n
}
