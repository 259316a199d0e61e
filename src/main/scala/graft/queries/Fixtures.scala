package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{FileStats, GraftCatalog, TxTable}

/** The one fixture protocol of the catalog queries and the scale
  * rehearsal: where a query's scratch files live ([[path]],
  * [[fresh]]), what is built once per JVM ([[once]]), and how a
  * warehouse table is landed for a change-and-read-back query
  * ([[land]], [[writeShape]], [[statusSummary]]) — the land, change,
  * read back shape of the reference's staging and CDC chapters.
  */
object Fixtures {

  /** `target/tmp` under the JVM's working directory, ABSOLUTE so a
    * DuckDB oracle run from another directory reads the same files.
    */
  private val scratch: String = new java.io.File("target/tmp").getAbsolutePath

  /** The scratch path of fixture `kind` for dataset dir `dir`:
    * `target/tmp/<kind>_<tag>`, where the tag is the WHOLE dir with every
    * character outside `[A-Za-z0-9.]` as `_`. Whole so two dirs with
    * one basename get two paths; dot-preserving so `…/sf0.01` and
    * `…/sf0_01` do not collide on one fixture (ADVICE r17).
    */
  def path(kind: String, dir: String): String =
    s"$scratch/${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** A name no earlier call had, `<kind>_<System.nanoTime>`: a
    * memory-sink query name. Time-based, not a counter, so a name
    * never meets a dir an earlier JVM left under `target/tmp`.
    */
  def freshName(kind: String): String = s"${kind}_${System.nanoTime()}"

  /** A per-call scratch dir, `target/tmp/<freshName(kind)>`: stream state
    * and checkpoint dirs that must start empty on every call.
    */
  def fresh(kind: String): String = s"$scratch/${freshName(kind)}"

  private val built = TrieMap.empty[String, Any]
  private val locks = TrieMap.empty[String, Object]

  /** `build`'s value, computed once per (JVM, key) and memoized. Key a
    * build by the path it writes, so the guard and the files cannot
    * disagree. A lock per key: a second caller waits for the running
    * build instead of racing it (ADVICE r16), and the key is marked
    * done only when `build` returns, so a build that threw runs again
    * on the next call (ADVICE r15).
    */
  def once[T](key: String)(build: => T): T =
    locks.getOrElseUpdate(key, new Object).synchronized {
      built.getOrElseUpdate(key, build).asInstanceOf[T]
    }

  /** A registered graft catalog: `name.mart.<t>` lives at
    * `<root>/mart/<t>`.
    */
  final case class Warehouse(name: String, root: String) {
    def table(t: String): String = s"$name.mart.$t"
    def tableRoot(t: String): String = s"$root/mart/$t"
  }

  /** Register the catalog of `kind` over `path("wh_" + kind, dir)`.
    * The catalog name is unique to `kind` and the warehouse to
    * (kind, dir): one name re-points per dir, because
    * [[GraftCatalog]] re-reads its warehouse from the live conf.
    */
  def warehouse(s: SparkSession, kind: String, dir: String): Warehouse = {
    val wh = Warehouse(s"wh_$kind", path(s"wh_$kind", dir))
    GraftCatalog.register(s, wh.name, wh.root)
    wh
  }

  /** Register `kind`'s [[warehouse]] for `dir`, then drop and land
    * each (table, layout, source) as `CREATE TABLE … [PARTITIONED BY
    * (layout)] AS SELECT * FROM source`; an empty layout lands
    * unpartitioned.
    */
  def land(s: SparkSession, kind: String, dir: String)(
      tables: (String, String, DataFrame)*): Warehouse = {
    val wh = warehouse(s, kind, dir)
    tables.foreach { case (t, layout, source) =>
      s.sql(s"DROP TABLE IF EXISTS ${wh.table(t)}")
      val view = s"${wh.name}_${t}_src"
      source.createOrReplaceTempView(view)
      val by = if (layout.isEmpty) "" else s" PARTITIONED BY ($layout)"
      s.sql(s"CREATE TABLE ${wh.table(t)}$by AS SELECT * FROM $view")
    }
    wh
  }

  /** The `o_orderstatus, n_rows, price_cents` read-back of an orders
    * table.
    */
  def statusSummary(s: SparkSession, table: String): DataFrame =
    s.sql(
      s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |    AS price_cents
         |FROM $table
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin)

  /** A table's data files before a change, `(relPath, size)`, and its
    * snapshot after.
    */
  final case class WriteShape(before: Set[(String, Long)], after: TxTable.Snapshot) {
    private def files = after.entries.map(e => (e.relPath, e.size)).toSet
    /** Every data file of `before` is still there, byte-identical. */
    def untouched: Boolean = before.subsetOf(files)
    /** The data file set is exactly `before`. */
    def unchanged: Boolean = files == before
    /** Rows the position-delete files mask. */
    def masked: Long = after.dvs.map(_.rows).sum
    /** Rows in the data files the change added. */
    def appended: Long = after.entries
      .filterNot(e => before.contains((e.relPath, e.size)))
      .map(e => FileStats.decode(e.stats).rows).sum
  }

  /** Run `change` against the table at `root` and return its value
    * with the table's [[WriteShape]].
    */
  def writeShape[T](s: SparkSession, root: String)(change: => T): (T, WriteShape) = {
    val before = TxTable.currentSnapshot(s, root).get
      .entries.map(e => (e.relPath, e.size)).toSet
    val out = change
    (out, WriteShape(before, TxTable.currentSnapshot(s, root).get))
  }
}
