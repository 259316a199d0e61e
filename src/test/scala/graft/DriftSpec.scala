package graft

import org.apache.spark.sql.functions._
import graft.operators.{Drift, HistAgg, HistUnionAgg}

/** Histogram states + PSI: exactness, exact MV merge, sentinel
  * buckets, null/NaN posture, and the metric's zero/shift behavior.
  */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def hist(df: org.apache.spark.sql.DataFrame, c: String,
      lo: Double, hi: Double, bins: Int): Array[Long] =
    df.agg(HistAgg(col(c), lo, hi, bins).as("h"))
      .select("h").as[Array[Long]].head()

  test("histogram counts are exact and layout-independent") {
    val df = spark.range(1000).select((col("id") % 100).cast("double").as("v"))
    val h = hist(df, "v", 0.0, 100.0, 10)
    // 10 per value, 10 values per bin → 100 per bin, nothing outside
    assert(h.toSeq == Seq(0L) ++ Seq.fill(10)(100L) ++ Seq(0L))
    assert(hist(df.repartition(17), "v", 0.0, 100.0, 10).toSeq == h.toSeq)
  }

  test("sentinel buckets catch out-of-range; upper edge closes the last bin") {
    val df = Seq(-5.0, 0.0, 49.9, 50.0, 99.9, 100.0, 101.0).toDF("v")
    val h = hist(df, "v", 0.0, 100.0, 2)
    // under=1 (−5), bin1=3 (0, 49.9 — and 50.0 goes to bin2), bin2=3
    // (50.0, 99.9, 100.0 inclusive), over=1 (101)
    assert(h.toSeq == Seq(1L, 2L, 3L, 1L))
  }

  test("nulls and NaNs are ignored") {
    val df = Seq(Some(1.0), None, Some(Double.NaN), Some(2.0)).toDF("v")
    assert(hist(df, "v", 0.0, 10.0, 2).sum == 2L)
  }

  test("mergeHist over batches equals one pass exactly (vector add)") {
    val df = spark.range(3000).select(
      (col("id") % 3).cast("string").as("k"),
      (col("id") % 77).cast("double").as("v"))
    def st(f: org.apache.spark.sql.Column) =
      Drift.histState(df.filter(f), Seq("k"), col("v"), 0.0, 80.0, 8)
    val folded = Drift.mergeHist(
      st(col("id") % 2 === 0), st(col("id") % 2 === 1), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](2)).toMap
    val single = Drift.histState(df, Seq("k"), col("v"), 0.0, 80.0, 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](2)).toMap
    assert(folded == single)
  }

  test("union refuses mismatched bin configs") {
    val bad = Seq(
      (1, Seq(1L, 2L, 3L)), (1, Seq(1L, 2L, 3L, 4L))).toDF("k", "h")
    val ex = intercept[Exception] {
      bad.groupBy("k").agg(HistUnionAgg(col("h"))).collect()
    }
    assert(ex.getMessage.contains("bin-config mismatch"))
  }

  test("histogram quantiles interpolate deterministically within a bin") {
    val df = spark.range(1000).select((col("id") % 100).cast("double").as("v"))
    val h = hist(df, "v", 0.0, 100.0, 10)
    def q(a: Array[Long], ps: Seq[Double]): Seq[Double] =
      Seq(Tuple1(a)).toDF("h")
        .select(Drift.quantiles(col("h"), ps, 0.0, 100.0).as("q"))
        .as[Seq[Double]].head()
    // exact uniform fill: interpolation lands on the true quantiles
    assert(q(h, Seq(0.5)) == Seq(50.0))
    assert(q(h, Seq(0.1, 0.9)) == Seq(10.0, 90.0))
    // error bounded by one bin width against the exact percentile
    val skew = spark.range(1000)
      .select(pow(col("id").cast("double") / 1000.0, 3.0).multiply(100).as("v"))
    val hs = hist(skew, "v", 0.0, 100.0, 10)
    val exactP50 = skew.stat.approxQuantile("v", Array(0.5), 0.0)(0)
    assert(math.abs(q(hs, Seq(0.5)).head - exactP50) <= 10.0)
    // sentinel clamping and empty-state null
    val over = Array(0L, 0L, 0L, 5L) // everything in overflow (2 bins)
    assert(q(over, Seq(0.5)) == Seq(100.0))
    val empty = Array(0L, 0L, 0L, 0L)
    assert(Seq(Tuple1(empty)).toDF("h")
      .select(Drift.quantiles(col("h"), Seq(0.5), 0.0, 100.0).as("q"))
      .selectExpr("q[0]").head().isNullAt(0))
  }

  test("quantiles from a merged state equal quantiles from one pass") {
    val df = spark.range(4000).select(
      lit("k").as("k"), (col("id") % 97).cast("double").as("v"))
    def st(f: org.apache.spark.sql.Column) =
      Drift.histState(df.filter(f), Seq("k"), col("v"), 0.0, 100.0, 20)
    val merged = Drift.mergeHist(
      st(col("v") % 2 === 0), st(col("v") % 2 === 1), Seq("k"))
    def q(d: org.apache.spark.sql.DataFrame) =
      d.select(Drift.quantiles(col("hist"), Seq(0.25, 0.5, 0.95), 0.0, 100.0))
        .as[Seq[Double]].head()
    assert(q(merged) == q(Drift.histState(df, Seq("k"), col("v"), 0.0, 100.0, 20)))
  }

  test("betweenVersions reads drift straight out of table history") {
    import graft.sources.TxTable
    val root = s"target/tmp/drift_tt_${System.nanoTime()}"
    val v0 = spark.range(5000).select(
      (col("id") % 2).cast("string").as("k"),
      (col("id") % 100).cast("double").as("v"))
    TxTable.create(v0, root)
    // version 1: key "1" shifts hard (+60, compressed), key "0" unchanged
    val v1 = spark.range(5000).select(
      (col("id") % 2).cast("string").as("k"),
      when(col("id") % 2 === 1, (col("id") % 100) * 0.3 + 60.0)
        .otherwise((col("id") % 100).cast("double")).as("v"))
    TxTable.rewriteAll(spark, root, _ => v1)
    val got = Drift.betweenVersions(spark, root, 0L, 1L,
        Seq("k"), col("v"), 0.0, 100.0, 10)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("0") == 0.0, s"unshifted key drifted: ${got("0")}")
    assert(got("1") > 0.25, s"shifted key not flagged: ${got("1")}")
  }

  test("PSI is zero for identical states and flags a real shift") {
    val base = spark.range(10000)
      .select((col("id") % 100).cast("double").as("v"))
    val shifted = spark.range(10000)
      .select(((col("id") % 100) * 0.3 + 60.0).cast("double").as("v"))
    val h = hist(base, "v", 0.0, 100.0, 10)
    val hs = hist(shifted, "v", 0.0, 100.0, 10)
    def psiOf(a: Array[Long], b: Array[Long]): Double =
      Seq((a, b)).toDF("p", "q").select(Drift.psi(col("p"), col("q")))
        .as[Double].head()
    assert(psiOf(h, h) == 0.0)           // terms are exactly 0
    assert(psiOf(h, hs) > 0.25,          // the "investigate" threshold
      s"psi=${psiOf(h, hs)}")
    // symmetry of the formula: psi(p,q) == psi(q,p)
    assert(math.abs(psiOf(h, hs) - psiOf(hs, h)) < 1e-12)
  }
}
