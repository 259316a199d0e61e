package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.sources.{GraftFileIndex, TxTable}

/** The `format("graft")` data-source surface: reader/writer semantics,
  * planning-time file skipping through the optimizer's pushed filters,
  * time travel, and the pure-SQL path (`CREATE TEMP VIEW … USING graft`).
  */
class FormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/fmt_${tag}_${System.nanoTime()}"

  /** 80 rows in 8 range-disjoint files: partition i of
    * `spark.range(0, 80, 1, 8)` holds exactly k ∈ [10i, 10i+10), so
    * per-file bounds are deterministic (no sampled range boundaries).
    */
  private def rangedTable(root: String): Unit = {
    val df = spark.range(0, 80, 1, 8).select(
      col("id").as("k"),
      (col("id") % 4).cast("string").as("cat"),
      (col("id") * 2.5).as("v"))
    TxTable.create(df, root, None)
  }

  private def graftIndexOf(df: DataFrame): GraftFileIndex =
    df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.location.asInstanceOf[GraftFileIndex]
    }.getOrElse(fail("no HadoopFsRelation(GraftFileIndex) in the plan"))

  test("writer/reader roundtrip; append bootstraps a fresh table") {
    val root = freshRoot("rt")
    val df = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "cat", "v")
    df.write.format("graft").mode("append").save(root)
    Seq((3L, "C", 30.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("append").save(root)
    val back = spark.read.format("graft").load(root)
    assert(back.schema.fieldNames.toSeq == Seq("k", "cat", "v"))
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0)))
    // the format reads the same table TxTable sees
    assert(TxTable.currentVersion(spark, root).contains(1L))
  }

  test("optimizer-pushed filters skip files at planning time") {
    val root = freshRoot("skip")
    rangedTable(root)
    val q = spark.read.format("graft").load(root).filter(col("k") === 42L)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(42L))
    val idx = graftIndexOf(q)
    assert(idx.snapshot.entries.size == 8, "8 range-disjoint files")
    assert(idx.lastListedCount == 1,
      s"point predicate must scan 1 of 8 files, scanned ${idx.lastListedCount}")
    // range predicate spanning exactly files 2 and 3
    val r = spark.read.format("graft").load(root)
      .filter(col("k") >= 20L && col("k") < 40L)
    assert(r.agg(count(lit(1))).as[Long].head() == 20L)
    assert(graftIndexOf(r).lastListedCount == 2)
  }

  test("skipping never changes results (prune ∥ re-filter equivalence)") {
    val root = freshRoot("eq")
    rangedTable(root)
    val full = TxTable.read(spark, root)
      .filter(col("k") % 7 === 3).select("k").as[Long].collect().toSet
    val viaFormat = spark.read.format("graft").load(root)
      .filter(col("k") % 7 === 3).select("k").as[Long].collect().toSet
    assert(viaFormat == full)
  }

  test("filter + projection reach the parquet scan (pushdown, pruning)") {
    val root = freshRoot("push")
    rangedTable(root)
    val q = spark.read.format("graft").load(root)
      .filter(col("k") > 50L).select("k", "v")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,50)]"),
      s"filter not pushed to parquet:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint,v:double>"),
      s"projection not pruned to (k, v):\n$plan")
  }

  test("versionAsOf time travel; overwrite keeps history") {
    val root = freshRoot("tt")
    val v0 = Seq((1L, "A", 1.0)).toDF("k", "cat", "v")
    v0.write.format("graft").mode("append").save(root)
    Seq((9L, "Z", 9.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("overwrite").save(root)
    val now = spark.read.format("graft").load(root)
    assert(now.as[(Long, String, Double)].collect().toSeq == Seq((9L, "Z", 9.0)))
    val was = spark.read.format("graft").option("versionAsOf", "0").load(root)
    assert(was.as[(Long, String, Double)].collect().toSeq == Seq((1L, "A", 1.0)))
  }

  test("overwrite with a different schema is refused loudly") {
    val root = freshRoot("ow")
    Seq((1L, "A", 1.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("append").save(root)
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 2L)).toDF("a", "b")
        .write.format("graft").mode("overwrite").save(root)
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("errorIfExists refuses an existing table; ignore is a no-op") {
    val root = freshRoot("modes")
    val df = Seq((1L, "A", 1.0)).toDF("k", "cat", "v")
    df.write.format("graft").mode("errorifexists").save(root)
    intercept[IllegalStateException] {
      df.write.format("graft").mode("errorifexists").save(root)
    }
    Seq((2L, "B", 2.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("ignore").save(root)
    assert(spark.read.format("graft").load(root)
      .as[(Long, String, Double)].collect().toSeq == Seq((1L, "A", 1.0)))
  }

  test("INSERT INTO a graft view is refused before any file is written") {
    val root = freshRoot("ins")
    Seq((1L, "A", 1.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("append").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW fmt_ins_t USING graft " +
      s"OPTIONS (path '$root')")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO fmt_ins_t VALUES (2, 'B', 2.0)")
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(e).getMessage.contains("bypass the transactional manifest"))
    // the refusal left no orphan: nothing outside data/ and _manifest/
    val stray = new java.io.File(root).listFiles()
      .map(_.getName).filterNot(Set("data", "_manifest"))
    assert(stray.isEmpty, s"orphan files after refused insert: ${stray.toSeq}")
    assert(spark.read.format("graft").load(root).count() == 1)
  }

  test("pure SQL: CREATE TEMP VIEW USING graft prunes through SQL text") {
    val root = freshRoot("sql")
    rangedTable(root)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW fmt_sql_t
         |USING graft OPTIONS (path '$root')""".stripMargin)
    val q = spark.sql("SELECT sum(v) AS sv FROM fmt_sql_t WHERE k = 7")
    assert(q.as[Double].head() == 17.5)
    assert(graftIndexOf(q).lastListedCount == 1,
      "SQL-text predicate must prune via the manifest too")
  }

  test("CHECK constraints gate the format writer too") {
    val root = freshRoot("chk")
    Seq((1L, "A", 1.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("append").save(root)
    TxTable.addCheck(spark, root, "v_pos", "v > 0.0")
    intercept[IllegalArgumentException] {
      Seq((2L, "B", -5.0)).toDF("k", "cat", "v")
        .write.format("graft").mode("append").save(root)
    }
    assert(spark.read.format("graft").load(root).count() == 1,
      "violating write must not become visible")
    Seq((2L, "B", 5.0)).toDF("k", "cat", "v")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 2)
  }

  test("z-ordered table prunes on BOTH dimensions through SQL via the format") {
    import graft.sources.ZOrder
    val root = freshRoot("zfmt")
    val grid = spark.range(4096).select(
      (col("id") % 64).as("x"),
      (col("id") / 64).cast("long").as("y"),
      col("id").as("payload"))
    ZOrder.write(grid, root, Seq(col("x"), col("y")), numFiles = 16, bits = 6)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW zfmt_t USING graft " +
      s"OPTIONS (path '$root')")
    for ((cond, expect) <- Seq(
        ("x BETWEEN 3 AND 6", (4096 / 64) * 4L),
        ("y BETWEEN 10 AND 13", 64L * 4L))) {
      val q = spark.sql(s"SELECT count(*) AS n FROM zfmt_t WHERE $cond")
      assert(q.as[Long].head() == expect, cond)
      val idx = graftIndexOf(q)
      assert(idx.lastListedCount < idx.snapshot.entries.size,
        s"$cond did not prune: ${idx.lastListedCount}/" +
          s"${idx.snapshot.entries.size} files")
    }
  }

  test("manifest carries file sizes; planner sees the table size") {
    val root = freshRoot("sz")
    rangedTable(root)
    val snap = TxTable.currentSnapshot(spark, root).get
    assert(snap.entries.nonEmpty && snap.entries.forall(_.size > 0),
      "every committed entry records its byte size")
    val idx = graftIndexOf(spark.read.format("graft").load(root))
    assert(idx.sizeInBytes == snap.entries.map(_.size).sum)
  }
}
