package graft

import org.apache.spark.sql.functions._
import graft.sources.{FileStats, TxTable}

/** File-level data skipping: commit-time footer stats in the manifest,
  * stats-pruned reads, and — the load-bearing property — pruning is
  * correctness-neutral for EVERY predicate (unknown stats keep files;
  * the full filter re-runs on survivors).
  */
class SkippingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/skip_${tag}_${System.nanoTime()}"

  /** 400 rows range-clustered on k into 4 files with disjoint k ranges
    * — the layout a sort-keyed bulk write produces.
    */
  private def clustered(root: String): TxTable.Snapshot = {
    val df = spark.range(400).select(
      col("id").as("k"),
      (col("id") % 7).cast("double").as("v"),
      concat(lit("cat_"), (col("id") % 5)).as("c"))
    TxTable.create(df.repartitionByRange(4, col("k")), root)
    TxTable.currentSnapshot(spark, root).get
  }

  test("commit-time stats land in the manifest for every data file") {
    val root = freshRoot("stats")
    val s = clustered(root)
    assert(s.entries.size == 4)
    assert(s.entries.forall(_.stats.nonEmpty))
    val st = FileStats.decode(s.entries.head.stats)
    assert(st.rows > 0)
    // numeric, double, and string columns all carry bounds
    for (c <- Seq("k", "v", "c")) {
      val cs = st.cols(c)
      assert(cs.min.isDefined && cs.max.isDefined && cs.nulls == 0, c)
    }
  }

  test("point and range predicates on the clustering key prune to the matching files") {
    val root = freshRoot("prune")
    val s = clustered(root)
    // ranges are disjoint: a point predicate hits exactly one file
    assert(TxTable.statsPrune(spark, s, col("k") === 5L).size == 1)
    assert(TxTable.statsPrune(spark, s, col("k") === lit(5)).size == 1)
    // a range inside one quartile stays in one file
    assert(TxTable.statsPrune(spark, s, col("k") >= 10L && col("k") < 20L).size == 1)
    // IN across two quartiles keeps exactly those two files
    assert(TxTable.statsPrune(spark, s, col("k").isin(5L, 205L)).size == 2)
    // a predicate outside the domain proves EVERY file empty
    assert(TxTable.statsPrune(spark, s, col("k") > 1000L).isEmpty)
    assert(TxTable.statsPrune(spark, s, col("k") < 0L).isEmpty)
    // reversed operand order prunes identically
    assert(TxTable.statsPrune(spark, s, lit(1000L) < col("k")).isEmpty)
    // non-clustered column: every file spans the full v/c domain → no pruning
    assert(TxTable.statsPrune(spark, s, col("v") === 3.0).size == 4)
  }

  test("readWhere ≡ read().filter for supported AND unsupported predicates") {
    val root = freshRoot("equiv")
    clustered(root)
    val full = TxTable.read(spark, root)
    val preds = Seq(
      col("k") === 123L,
      col("k") >= 100L && col("k") <= 150L && col("v") < 3.0,
      col("c") === "cat_3",
      col("k") > 1000L,                       // provably empty everywhere
      col("k") === 5L || col("k") === 399L,   // OR: unsupported → no pruning
      abs(col("v") - 2.0) < 0.5,              // expression over column: unsupported
      col("k").isin(1L, 99L, 333L))
    for (p <- preds) {
      val pruned = TxTable.readWhere(spark, root, p)
        .orderBy("k").as[(Long, Double, String)].collect().toSeq
      val ref = full.filter(p)
        .orderBy("k").as[(Long, Double, String)].collect().toSeq
      assert(pruned == ref, s"predicate $p")
    }
  }

  test("string bounds: special characters round-trip; long strings keep only a sound lower bound") {
    val root = freshRoot("str")
    val big = "￿" + ("z" * 200)     // UTF-8 max of the three, > MaxStringLen
    val nasty = Seq(
      (1L, "a\tb,c;d=e%f"),            // every delimiter the encoding uses
      (2L, "ünïcödé ★"),
      (3L, big))
    TxTable.create(nasty.toDF("k", "s").repartition(1), root)
    val s = TxTable.currentSnapshot(spark, root).get
    val cs = FileStats.decode(s.entries.head.stats).cols("s")
    assert(cs.min.contains("a\tb,c;d=e%f"))  // exact round-trip through the manifest
    assert(cs.max.isEmpty)                    // truncated upper bound dropped, not kept unsound
    // equality above the (unknown) max must NOT be pruned away
    assert(TxTable.readWhere(spark, root, col("s") === big).count() == 1)
    // equality below the known min IS pruned — and still correct
    val below = col("s") === "A"
    assert(TxTable.statsPrune(spark, s, below).isEmpty)
    assert(TxTable.readWhere(spark, root, below).count() == 0)
  }

  test("null-count pruning: IS NOT NULL drops all-null files, IS NULL drops fully-populated files") {
    val root = freshRoot("nulls")
    val df = Seq[(Long, Option[Double], String)](
      (1L, Some(1.0), "full"), (2L, Some(2.0), "full"),
      (3L, None, "empty"), (4L, None, "empty"))
      .toDF("k", "v", "p").repartition(1)
    TxTable.create(df, root, Some("p"))
    val s = TxTable.currentSnapshot(spark, root).get
    assert(s.entries.size == 2)
    assert(TxTable.statsPrune(spark, s, col("v").isNotNull)
      .forall(_.partition == "p=full"))
    assert(TxTable.statsPrune(spark, s, col("v").isNull)
      .forall(_.partition == "p=empty"))
    assert(TxTable.readWhere(spark, root, col("v").isNotNull).count() == 2)
    assert(TxTable.readWhere(spark, root, col("v").isNull).count() == 2)
  }

  test("timestamp and date bounds prune in Catalyst's internal units") {
    val root = freshRoot("ts")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val df = spark.range(100).select(
        col("id").as("k"),
        to_timestamp(lit("2024-01-01 00:00:00")) +
          make_interval(lit(0), lit(0), lit(0), lit(0), col("id")),
        to_date(lit("2024-01-01")) + col("id").cast("int"))
        .toDF("k", "ts", "d")
      TxTable.create(df.repartitionByRange(4, col("k")), root)
      val s = TxTable.currentSnapshot(spark, root).get
      val tsPred = col("ts") < to_timestamp(lit("2024-01-02 00:00:00"))
      val dPred = col("d") === to_date(lit("2024-01-30"))
      assert(TxTable.statsPrune(spark, s, tsPred).size == 1)
      assert(TxTable.statsPrune(spark, s, dPred).size == 1)
      assert(TxTable.readWhere(spark, root, tsPred).count() == 24)
      assert(TxTable.readWhere(spark, root, dPred).count() == 1)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("legacy 2-field manifest lines read fine and are never pruned") {
    val root = freshRoot("legacy")
    val s = clustered(root)
    // rewrite the committed manifest in the PRE-stats format
    val f = new java.io.File(s"$root/_manifest/v0.manifest")
    val legacy = scala.io.Source.fromFile(f).mkString.linesIterator.map { l =>
      if (l.startsWith("#")) l
      else l.split("\t", 3).take(2).mkString("\t")
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(f.toPath, legacy)
    // the local FS keeps a sidecar checksum for the original bytes
    new java.io.File(s"$root/_manifest/.v0.manifest.crc").delete()
    val s2 = TxTable.currentSnapshot(spark, root).get
    assert(s2.entries.forall(_.stats.isEmpty))
    // no stats → every file survives every predicate; filter still correct
    assert(TxTable.statsPrune(spark, s2, col("k") === 5L).size == 4)
    assert(TxTable.readWhere(spark, root, col("k") === 5L).count() == 1)
    assert(TxTable.read(spark, root).count() == 400)
  }

  test("append, overwritePartitions, and compact all re-collect stats for their new files") {
    val root = freshRoot("life")
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("k", "p", "v")
    TxTable.create(df, root, Some("p"))
    TxTable.append(Seq((30L, "A", 3.0)).toDF("k", "p", "v"), root, Some("p"))
    TxTable.overwritePartitions(
      Seq((40L, "B", 4.0)).toDF("k", "p", "v"), root, "p")
    TxTable.compact(spark, root)
    val s = TxTable.currentSnapshot(spark, root).get
    assert(s.entries.nonEmpty && s.entries.forall(_.stats.nonEmpty))
    // post-compaction bounds still describe the live rows: k ∈ {1,30,40}
    assert(TxTable.statsPrune(spark, s, col("k") > 50L).isEmpty)
    assert(TxTable.readWhere(spark, root, col("k") > 25L)
      .as[(Long, String, Double)].collect().map(_._1).sorted.toSeq == Seq(30L, 40L))
  }
}
