package graft

import org.apache.spark.sql.functions._
import graft.sources.{TxTable, ZOrder}

/** Z-order clustering: the layout property (multi-dimension file
  * skipping) plus the correctness-neutrality of reading through the
  * pruned path.
  */
class ZorderSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/zorder_${tag}_${System.nanoTime()}"

  /** 4,096 rows over two independent uniform dims — the worst case
    * for single-key clustering (sorting on x leaves y uniform in
    * every file).
    */
  private lazy val grid = spark.range(4096).select(
    col("id"),
    (col("id") % 64).as("x"),
    (col("id") / 64).cast("long").as("y"),
    (col("id") * 37 % 101).cast("double").as("v"))

  test("z-value interleaves quantile ranks monotonically per dimension") {
    val z = ZOrder.zvalue(grid, Seq(col("x"), col("y")), bits = 4)
    val rows = grid.withColumn("z", z)
      .select("x", "y", "z").as[(Long, Long, Long)].collect()
    // fixing y, z must be monotone in x (and vice versa) — the
    // property range-clustering relies on
    val byY = rows.filter(_._2 == 10L).sortBy(_._1).map(_._3)
    assert(byY.zip(byY.tail).forall { case (a, b) => a <= b })
    val byX = rows.filter(_._1 == 10L).sortBy(_._2).map(_._3)
    assert(byX.zip(byX.tail).forall { case (a, b) => a <= b })
    // and the interleave actually mixes both dims: the max z needs
    // bits from both (> what either dim alone could produce)
    assert(rows.map(_._3).max >= (1L << 5))
  }

  test("2-d z-order prunes files on EITHER dimension; linear sort only on its key") {
    val zRoot = freshRoot("z")
    val linRoot = freshRoot("lin")
    ZOrder.write(grid, zRoot, Seq(col("x"), col("y")), numFiles = 16, bits = 4)
    // the baseline: same data, same file count, linear sort on x only
    TxTable.create(
      grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x")),
      linRoot)
    val zSnap = TxTable.currentSnapshot(spark, zRoot).get
    val linSnap = TxTable.currentSnapshot(spark, linRoot).get
    assert(zSnap.entries.size == 16 && linSnap.entries.size == 16)

    def kept(s: TxTable.Snapshot, c: org.apache.spark.sql.Column) =
      TxTable.statsPrune(spark, s, c).size

    // selective point-ish predicates on each dimension
    val onX = col("x") === 7L
    val onY = col("y") === 7L
    // linear layout: perfect on its key, blind on the other
    assert(kept(linSnap, onX) <= 2, s"linear onX kept ${kept(linSnap, onX)}")
    assert(kept(linSnap, onY) == 16, s"linear onY kept ${kept(linSnap, onY)}")
    // z-order: prunes at least half the files on EACH dimension
    assert(kept(zSnap, onX) <= 8, s"zorder onX kept ${kept(zSnap, onX)}")
    assert(kept(zSnap, onY) <= 8, s"zorder onY kept ${kept(zSnap, onY)}")
    // and the conjunction prunes multiplicatively (a z-cell)
    assert(kept(zSnap, onX && onY) <= 4,
      s"zorder onX&&onY kept ${kept(zSnap, onX && onY)}")
  }

  test("readWhere over a z-ordered table returns exactly the filtered rows") {
    val root = freshRoot("rw")
    ZOrder.write(grid, root, Seq(col("x"), col("y")), numFiles = 16, bits = 4)
    val expected = grid.filter(col("x") === 7L && col("y") > 30L)
      .select("id").as[Long].collect().sorted
    val got = TxTable.readWhere(spark, root, col("x") === 7L && col("y") > 30L)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == expected.toSeq)
  }

  test("skewed and null dimensions stay sound (rank 0, never mis-pruned)") {
    val root = freshRoot("nulls")
    val df = spark.range(1000).select(
      col("id"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 16)
        .as("x"),
      lit(1L).as("konst")) // zero-variance dim: all boundaries tie
    ZOrder.write(df, root, Seq(col("x"), col("konst")), numFiles = 4, bits = 4)
    val expected = df.filter(col("x").isNull).count()
    assert(TxTable.readWhere(spark, root, col("x").isNull).count() == expected)
    assert(TxTable.readWhere(spark, root, col("konst") === 1L).count() == 1000L)
  }

  test("cluster re-z-orders an existing table in one version swap") {
    val root = freshRoot("cluster")
    // accreted layout: hash-random files — no column prunes anything
    TxTable.create(grid.repartition(16), root)
    val before = TxTable.currentSnapshot(spark, root).get
    assert(TxTable.statsPrune(spark, before, col("x") === 7L).size == 16)

    val v = ZOrder.cluster(spark, root, Seq(col("x"), col("y")),
      numFiles = 16, bits = 4)
    assert(v == before.version + 1)
    val after = TxTable.currentSnapshot(spark, root).get
    // same rows, better layout: both dims now prune
    assert(TxTable.readWhere(spark, root, lit(true)).count() == 4096L)
    assert(TxTable.statsPrune(spark, after, col("x") === 7L).size <= 8)
    assert(TxTable.statsPrune(spark, after, col("y") === 7L).size <= 8)
    // the pre-cluster layout stays readable via time travel
    assert(TxTable.readVersion(spark, root, before.version).count() == 4096L)
  }

  test("rewriteAll refuses a transform that changes the schema") {
    val root = freshRoot("badrw")
    TxTable.create(grid, root)
    intercept[IllegalArgumentException] {
      TxTable.rewriteAll(spark, root, _.withColumn("extra", lit(1)))
    }
  }

  test("date and timestamp dimensions rank through their time value") {
    val root = freshRoot("dates")
    val df = spark.range(512).select(
      col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 256).cast("int"))
        .as("d"),
      timestamp_seconds(col("id") * 3600).as("ts"))
    ZOrder.write(df, root, Seq(col("d"), col("ts")), numFiles = 8, bits = 4)
    val s = TxTable.currentSnapshot(spark, root).get
    val cut = lit("2024-01-10").cast("date")
    val keptD = TxTable.statsPrune(spark, s, col("d") < cut).size
    assert(keptD < 8, s"date predicate kept $keptD of 8 files")
    assert(TxTable.readWhere(spark, root, col("d") < cut).count() ==
      df.filter(col("d") < cut).count())
  }
}
