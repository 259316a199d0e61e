package graft

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Transactional manifest table: commit atomicity, snapshot isolation,
  * atomic multi-partition overwrite, time travel, vacuum safety.
  */
class TxSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String) =
    s"target/tmp/tx_${tag}_${System.nanoTime()}"

  private def seed = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0),
    (4L, "B", 40.0), (5L, "C", 50.0)).toDF("k", "p", "v")

  test("create + read roundtrip preserves rows and schema") {
    val root = freshRoot("rt")
    TxTable.create(seed, root, Some("p"))
    val back = TxTable.read(spark, root)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("k", "p", "v"))
    assert(back.select("k", "p", "v").as[(Long, String, Double)].collect().toSet ==
      seed.as[(Long, String, Double)].collect().toSet)
  }

  test("append becomes visible atomically; version increments") {
    val root = freshRoot("ap")
    TxTable.create(seed, root, Some("p"))
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    assert(TxTable.currentVersion(spark, root).contains(1L))
    assert(TxTable.read(spark, root).count() == 6)
  }

  test("txnAppend: idempotent per (txnId, batchId); watermark survives other commits") {
    val root = freshRoot("txn")
    TxTable.create(seed, root, Some("p"))
    val b = Seq((10L, "D", 1.0)).toDF("k", "p", "v")
    assert(TxTable.txnAppend(b, root, Some("p"), "q1", 0L))
    assert(!TxTable.txnAppend(b, root, Some("p"), "q1", 0L), "replay is a no-op")
    assert(TxTable.read(spark, root).count() == 6)
    // an unrelated commit must carry the watermark forward
    TxTable.append(Seq((11L, "D", 2.0)).toDF("k", "p", "v"), root, Some("p"))
    assert(!TxTable.txnAppend(b, root, Some("p"), "q1", 0L),
      "watermark lost by an interleaved append")
    assert(TxTable.txnAppend(b, root, Some("p"), "q1", 1L), "next batch applies")
    // a second writer identity is independent
    assert(TxTable.txnAppend(b, root, Some("p"), "q2", 0L))
    assert(TxTable.currentSnapshot(spark, root).get.txns ==
      Map("q1" -> 1L, "q2" -> 0L))
    assert(TxTable.read(spark, root).count() == 9)
  }

  test("txnAppend under contention: racing writers all land; a replay racing itself stays exactly-once") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._

    val root = freshRoot("txnrace")
    TxTable.create(seed.limit(0), root, Some("p"))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 4 independent writers x 3 batches, all racing the same table:
      // every batch must land exactly once despite version conflicts
      val writers = Future.sequence(
        (0 until 4).map { w =>
          Future {
            (0 until 3).map { b =>
              val df = Seq((w * 100L + b, s"W$w", b.toDouble)).toDF("k", "p", "v")
              TxTable.txnAppend(df, root, Some("p"), s"writer$w", b)
            }
          }
        })
      assert(Await.result(writers, 120.seconds).flatten.forall(identity),
        "every first-attempt batch must report applied")
      assert(TxTable.read(spark, root).count() == 12)
      val snap = TxTable.currentSnapshot(spark, root).get
      assert(snap.txns == (0 until 4).map(w => s"writer$w" -> 2L).toMap)
      assert(snap.version == 12L, "12 commits after the v0 bootstrap")

      // the replay race: 6 threads all claim the SAME (txnId, batchId)
      val df = Seq((999L, "R", 9.9)).toDF("k", "p", "v")
      val replays = Future.sequence((0 until 6).map(_ =>
        Future(TxTable.txnAppend(df, root, Some("p"), "replayer", 0L))))
      val applied = Await.result(replays, 120.seconds).count(identity)
      assert(applied == 1, s"replay race applied $applied times, want 1")
      assert(TxTable.read(spark, root).filter(col("k") === 999L).count() == 1)
    } finally pool.shutdown()
  }

  test("ChangeFeed.between: op classification from the manifest diff; unchanged files never read") {
    import graft.sources.ChangeFeed
    val root = freshRoot("cf")
    // v0: keys 1..6 over partitions A (1,2,3), B (4,5), C (6)
    TxTable.create(Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 30.0),
      (4L, "B", 40.0), (5L, "B", 50.0), (6L, "C", 60.0)
    ).toDF("k", "p", "v"), root, Some("p"))
    // v1 rewrites A and B only: k1 updated, k2 rewritten IDENTICAL,
    // k3 deleted, k7 inserted into B; C untouched
    TxTable.overwritePartitions(Seq(
      (1L, "A", 11.0), (2L, "A", 20.0),
      (4L, "B", 40.0), (5L, "B", 50.0), (7L, "B", 70.0)
    ).toDF("k", "p", "v"), root, "p")

    val feed = ChangeFeed.between(spark, root, 0L, 1L, Seq("k"))
    val got = feed.select("k", "p", "v", ChangeFeed.OpCol)
      .as[(Long, String, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "A", 11.0, "update"),   // post-image
      (3L, "A", 30.0, "delete"),   // pre-image
      (7L, "B", 70.0, "insert")))

    // immutable-file optimization: partition C's file (present in both
    // versions) must never be scanned
    val untouched = TxTable.snapshot(spark, root, 0L).entries
      .filter(_.partition.contains("C")).map(_.relPath)
    assert(untouched.nonEmpty)
    val scanned = feed.inputFiles.toSet
    untouched.foreach(rel =>
      assert(!scanned.exists(_.endsWith(rel)), s"read unchanged file $rel"))

    // sanity: applying the feed to v0 reproduces v1 exactly
    val v0 = TxTable.readVersion(spark, root, 0L)
    val replayed = v0.as("t")
      .join(feed.as("f"), col("t.k") === col("f.k"), "full_outer")
      .where(coalesce(col(s"f.${ChangeFeed.OpCol}"), lit("keep")) =!= "delete")
      .select(
        coalesce(col("f.k"), col("t.k")).as("k"),
        coalesce(col("f.p"), col("t.p")).as("p"),
        coalesce(col("f.v"), col("t.v")).as("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(replayed ==
      TxTable.read(spark, root).as[(Long, String, Double)].collect().toSet)
  }

  test("CHECK constraints: add validates existing data, writes enforce, drop guards") {
    val root = freshRoot("check")
    TxTable.create(seed, root, Some("p"))
    // a constraint the current rows violate is refused at ADD time
    val exAdd = intercept[IllegalArgumentException] {
      TxTable.addCheck(spark, root, "v_big", "v > 15.0") // row (1,A,10.0)
    }
    assert(exAdd.getMessage.contains("v_big"))
    assert(TxTable.currentSnapshot(spark, root).get.checks.isEmpty)

    TxTable.addCheck(spark, root, "v_pos", "v > 0.0")
    TxTable.addCheck(spark, root, "p_known", "p IN ('A','B','C','D')")
    // a duplicate name is refused
    intercept[IllegalArgumentException] {
      TxTable.addCheck(spark, root, "v_pos", "v > 1.0")
    }
    // an unresolvable expression fails at ADD time, not at next append
    intercept[Exception] {
      TxTable.addCheck(spark, root, "broken", "no_such_col = 1")
    }

    // a good append passes; a violating append is refused atomically
    TxTable.append(Seq((7L, "D", 70.0)).toDF("k", "p", "v"), root, Some("p"))
    val vBefore = TxTable.currentVersion(spark, root).get
    val exApp = intercept[IllegalArgumentException] {
      TxTable.append(Seq((8L, "E", -1.0)).toDF("k", "p", "v"), root, Some("p"))
    }
    // ONE validation pass reports every violated constraint
    assert(exApp.getMessage.contains("v_pos") &&
      exApp.getMessage.contains("p_known"))
    assert(TxTable.currentVersion(spark, root).get == vBefore,
      "refused append must not commit")
    assert(TxTable.read(spark, root).count() == 6)

    // NULL passes (ANSI CHECK); explicit IS NOT NULL refuses it
    TxTable.append(
      Seq((9L, "D", null.asInstanceOf[java.lang.Double]))
        .toDF("k", "p", "v").selectExpr("k", "p", "CAST(v AS DOUBLE) AS v"),
      root, Some("p"))
    assert(TxTable.read(spark, root).count() == 7)

    // dropping a column a check references is refused; dropCheck frees it
    intercept[IllegalArgumentException] {
      TxTable.dropColumns(spark, root, Seq("v"))
    }
    TxTable.dropCheck(spark, root, "v_pos")
    TxTable.dropColumns(spark, root, Seq("v"))
    assert(TxTable.read(spark, root).columns.toSeq == Seq("k", "p"))
    // the surviving check still holds on the narrowed table
    assert(TxTable.currentSnapshot(spark, root).get.checks.keySet == Set("p_known"))
  }

  test("history: one row per version with file/byte deltas and metadata") {
    val root = freshRoot("hist")
    TxTable.create(seed, root, Some("p"))
    TxTable.txnAppend(Seq((6L, "C", 60.0)).toDF("k", "p", "v"),
      root, Some("p"), "job1", 0L)
    TxTable.addCheck(spark, root, "v_pos", "v > 0.0")
    val hdf = TxTable.history(spark, root).orderBy(col("version"))
    val ts = hdf.select("ts_millis").as[Long].collect()
    assert(ts.forall(_ > 0L), "every commit carries its wall-clock")
    val h = hdf
      .select("version", "files", "bytes", "files_added", "bytes_added",
        "txns", "checks")
      .as[(Long, Long, Long, Long, Long, String, String)].collect()
    assert(h.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(h(0)._2 == TxTable.snapshot(spark, root, 0L).entries.size.toLong)
    assert(h(1)._4 == h(1)._2 - h(0)._2, "v1 added exactly the txnAppend files")
    assert(h(1)._4 >= 1L)
    assert(h.forall(_._3 > 0L), "live bytes from manifest sizes")
    assert(h(1)._6 == "job1=0" && h(2)._6 == "job1=0")
    assert(h(2)._7 == "v_pos=v > 0.0")
    assert(h(2)._4 == 0L, "addCheck is metadata-only: no files added")
  }

  test("addColumns: metadata-only widening, null backfill, stale writers refused") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = freshRoot("evolve")
    TxTable.create(seed, root, Some("p"))
    val dataFilesBefore = TxTable.snapshot(spark, root, 0L).entries.toSet

    val v = TxTable.addColumns(spark, root, Seq(StructField("note", StringType)))
    assert(v == 1L)
    // metadata-only: the exact same data files back the new version
    assert(TxTable.snapshot(spark, root, 1L).entries.toSet == dataFilesBefore)
    // old rows read back with the new column null-backfilled
    val widened = TxTable.read(spark, root)
    assert(widened.schema.fieldNames.contains("note"))
    assert(widened.filter(col("note").isNotNull).count() == 0)
    assert(widened.count() == 5)
    // time travel still reads the PRE-evolution schema
    assert(!TxTable.readVersion(spark, root, 0L)
      .schema.fieldNames.contains("note"))

    // a writer with the widened schema appends; values round-trip
    TxTable.append(
      Seq((6L, "C", 60.0, "fresh")).toDF("k", "p", "v", "note"),
      root, Some("p"))
    val after = TxTable.read(spark, root)
    assert(after.count() == 6)
    assert(after.filter(col("note") === "fresh").count() == 1)
    // a STALE writer still holding the old schema is refused loudly
    intercept[IllegalArgumentException] {
      TxTable.append(Seq((7L, "A", 70.0)).toDF("k", "p", "v"), root, Some("p"))
    }
    // name collisions and empty additions are contract errors
    intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, root, Seq(StructField("note", StringType)))
    }
    intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, root, Seq.empty)
    }
    // compaction rewrites under the EVOLVED schema: backfilled nulls
    // and fresh values both survive
    TxTable.compact(spark, root, targetFileBytes = 1L)
    val compacted = TxTable.read(spark, root)
    assert(compacted.count() == 6)
    assert(compacted.filter(col("note") === "fresh").count() == 1)
    assert(compacted.filter(col("note").isNull).count() == 5)
  }

  test("dropColumns: projection-only narrowing; partition key protected") {
    val root = freshRoot("drop")
    TxTable.create(seed, root, Some("p"))
    val before = TxTable.snapshot(spark, root, 0L).entries.toSet
    TxTable.dropColumns(spark, root, Seq("v"))
    // same files, narrowed read
    assert(TxTable.snapshot(spark, root, 1L).entries.toSet == before)
    val narrowed = TxTable.read(spark, root)
    assert(narrowed.schema.fieldNames.sorted.toSeq == Seq("k", "p"))
    assert(narrowed.count() == 5)
    // time travel still carries the dropped column
    assert(TxTable.readVersion(spark, root, 0L)
      .schema.fieldNames.contains("v"))
    // writers must use the narrowed schema now
    TxTable.append(Seq((6L, "C")).toDF("k", "p"), root, Some("p"))
    assert(TxTable.read(spark, root).count() == 6)
    intercept[IllegalArgumentException] {
      TxTable.append(Seq((7L, "A", 70.0)).toDF("k", "p", "v"), root, Some("p"))
    }
    // structural and contract guards
    intercept[IllegalArgumentException] {
      TxTable.dropColumns(spark, root, Seq("p")) // partition key
    }
    intercept[IllegalArgumentException] {
      TxTable.dropColumns(spark, root, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      TxTable.dropColumns(spark, root, Seq("k", "p")) // would leave nothing + partition key
    }
    // compaction under the narrowed schema physically sheds the column
    TxTable.compact(spark, root, targetFileBytes = 1L)
    assert(TxTable.read(spark, root).schema.fieldNames.sorted.toSeq ==
      Seq("k", "p"))
    assert(TxTable.read(spark, root).count() == 6)
  }

  test("overwritePartitions swaps ONLY touched partitions in one commit") {
    val root = freshRoot("ow")
    TxTable.create(seed, root, Some("p"))
    val v0 = TxTable.snapshot(spark, root, 0L)
    // replace partition B wholesale; A and C untouched
    TxTable.overwritePartitions(
      Seq((30L, "B", 300.0)).toDF("k", "p", "v"), root, "p")
    val v1 = TxTable.snapshot(spark, root, 1L)
    val back = TxTable.read(spark, root)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    assert(back == Set((1L, "A", 10.0), (2L, "A", 20.0), (5L, "C", 50.0),
      (30L, "B", 300.0)))
    // untouched partitions keep their EXACT files (no rewrite)
    val keptA = v0.entries.filter(_.partition == "p=A").map(_.relPath).toSet
    assert(v1.entries.filter(_.partition == "p=A").map(_.relPath).toSet == keptA)
    assert(v1.entries.filter(_.partition == "p=B").map(_.relPath).toSet
      .intersect(v0.entries.filter(_.partition == "p=B").map(_.relPath).toSet)
      .isEmpty)
  }

  test("crash before the manifest rename leaves the table bit-identical") {
    val root = freshRoot("crash")
    TxTable.create(seed, root, Some("p"))
    val before = TxTable.read(spark, root)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    // simulate a writer that died after writing data files but before
    // committing: files land under data/ with no manifest reference
    Seq((99L, "A", 999.0)).toDF("k", "p", "v")
      .write.parquet(s"$root/data/orphan-${System.nanoTime()}")
    val after = TxTable.read(spark, root)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    assert(after == before, "uncommitted data files must be invisible")
    assert(TxTable.currentVersion(spark, root).contains(0L))
  }

  test("TIMESTAMP AS OF: versionAt resolves against monotone-adjusted commit times") {
    val root = freshRoot("tsv")
    TxTable.create(seed, root, Some("p"))                            // v0
    Thread.sleep(5)
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p")) // v1
    Thread.sleep(5)
    TxTable.append(Seq((7L, "C", 70.0)).toDF("k", "p", "v"), root, Some("p")) // v2
    val t = (0L to 2L).map(v => TxTable.snapshot(spark, root, v).ts)
    assert(t.sorted == t && t.forall(_ > 0), s"commit times not ascending: $t")
    assert(TxTable.versionAt(spark, root, t(0)) == 0L)
    assert(TxTable.versionAt(spark, root, t(1)) == 1L)
    assert(TxTable.versionAt(spark, root, (t(1) + t(2)) / 2) == 1L,
      "an instant between commits resolves to the earlier version")
    assert(TxTable.versionAt(spark, root, System.currentTimeMillis() + 1000) == 2L)
    intercept[IllegalArgumentException] {
      TxTable.versionAt(spark, root, t(0) - 1000)
    }
    // the option surface: read the table as of v1's instant
    assert(spark.read.format("graft")
      .option("timestampAsOf", t(1).toString).load(root).count() == 6)
  }

  test("time travel: every committed version stays readable") {
    val root = freshRoot("tt")
    TxTable.create(seed, root, Some("p"))
    TxTable.overwritePartitions(
      Seq((30L, "B", 300.0)).toDF("k", "p", "v"), root, "p")
    assert(TxTable.readVersion(spark, root, 0L).count() == 5)
    assert(TxTable.readVersion(spark, root, 1L).count() == 4)
    assert(TxTable.readVersion(spark, root, 0L)
      .filter($"k" === 3L).count() == 1, "old snapshot keeps replaced rows")
  }

  test("restore: rollback is a new commit; history intact; watermarks and checks behave") {
    val root = freshRoot("restore")
    TxTable.create(seed, root, Some("p"))                            // v0
    TxTable.addCheck(spark, root, "v_pos", "v > 0")                  // v1
    assert(TxTable.txnAppend(Seq((6L, "C", 60.0)).toDF("k", "p", "v"),
      root, Some("p"), "s1", 7L))                                    // v2
    TxTable.rewriteAll(spark, root,
      df => df.withColumn("v", col("v") * 0 + 1))                    // v3: the bad write
    TxTable.dropCheck(spark, root, "v_pos")                          // v4
    val restored = TxTable.restore(spark, root, 2L)                  // v5 = v2's state
    assert(restored == 5L)
    // data is v2's, bit-identical
    assert(TxTable.read(spark, root).select("k", "p", "v")
      .as[(Long, String, Double)].collect().toSet ==
      TxTable.readVersion(spark, root, 2L).select("k", "p", "v")
        .as[(Long, String, Double)].collect().toSet)
    assert(TxTable.read(spark, root).agg(sum("v")).as[Double].head() == 210.0)
    // intermediate history is still time-travelable (never rewritten)
    assert(TxTable.readVersion(spark, root, 3L)
      .agg(sum("v")).as[Double].head() == 6.0)
    // v2's CHECK is live again: a violating append refuses
    val e = intercept[IllegalArgumentException] {
      TxTable.append(Seq((9L, "A", -1.0)).toDF("k", "p", "v"), root, Some("p"))
    }
    assert(e.getMessage.contains("v_pos"))
    // the streaming watermark did NOT regress: batch 7's replay stays a no-op
    assert(!TxTable.txnAppend(Seq((6L, "C", 60.0)).toDF("k", "p", "v"),
      root, Some("p"), "s1", 7L), "restore must not regress exactly-once watermarks")
    // restoring the current version is a no-op, not an empty commit
    assert(TxTable.restore(spark, root, 5L) == 5L)
    assert(TxTable.currentVersion(spark, root).contains(5L))
  }

  test("restore refuses when the target version's files were vacuumed") {
    val root = freshRoot("restorevac")
    TxTable.create(seed, root, Some("p"))                            // v0
    TxTable.rewriteAll(spark, root, df => df.filter(col("k") =!= 1L)) // v1
    TxTable.vacuum(spark, root, keepFromVersion = 1L)                // v0's files gone
    val e = intercept[IllegalArgumentException] {
      TxTable.restore(spark, root, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
    assert(TxTable.currentVersion(spark, root).contains(1L), "nothing committed")
    // and a restorable target still works after the refusal
    assert(TxTable.restore(spark, root, 1L) == 1L)
  }

  test("vacuum reclaims orphans + dropped history, never live files") {
    val root = freshRoot("vac")
    TxTable.create(seed, root, Some("p"))
    Seq((99L, "A", 999.0)).toDF("k", "p", "v")
      .write.parquet(s"$root/data/orphan-${System.nanoTime()}") // crash orphan
    TxTable.overwritePartitions(
      Seq((30L, "B", 300.0)).toDF("k", "p", "v"), root, "p")
    TxTable.vacuum(spark, root, keepFromVersion = 1L)
    // current snapshot fully readable after vacuum
    assert(TxTable.read(spark, root).count() == 4)
    // v0's replaced B files are gone: time travel to 0 now fails to
    // find them (vacuum dropped pre-keep history)
    val v0b = TxTable.snapshot(spark, root, 0L).entries
      .filter(_.partition == "p=B")
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(v0b.forall(e =>
      !f.exists(new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))))
  }

  test("vacuum under a root whose own path contains 'data/' never deletes live files") {
    // regression: relative paths must be computed against the table
    // root, not by substring-searching "data/" — a root like
    // .../data/mytable made the old code misalign every path and
    // delete the entire live table
    val root = s"target/tmp/data/tx_vacregr_${System.nanoTime()}"
    TxTable.create(seed, root, Some("p"))
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    TxTable.vacuum(spark, root, keepFromVersion = 0L)
    assert(TxTable.read(spark, root).count() == 6,
      "vacuum with full history retained must delete nothing")
    TxTable.vacuum(spark, root, keepFromVersion = 1L)
    assert(TxTable.read(spark, root).count() == 6,
      "current snapshot intact after dropping v0 history")
  }

  test("torn manifest (no #eof) is invisible to readers; recover() frees its version") {
    val root = freshRoot("torn")
    TxTable.create(seed, root, Some("p"))
    // simulate a writer that died mid-manifest-stream: the v1 file
    // exists (exclusive create succeeded) but has no #eof sentinel
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$root/_manifest/v1.manifest")
    val os = f.create(torn, false)
    os.write("#schema=`k` BIGINT\nsome/file.parquet\tp=A\n".getBytes("UTF-8"))
    os.close()
    assert(TxTable.currentVersion(spark, root).contains(0L),
      "incomplete manifest must not count as committed")
    assert(TxTable.read(spark, root).count() == 5)
    // the torn file blocks version 1 for any new writer...
    intercept[TxTable.ConcurrentCommitException] {
      TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    }
    // ...until recover() (caller asserts no writer in flight) frees it
    assert(TxTable.recover(spark, root) == Seq(1L))
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    assert(TxTable.read(spark, root).count() == 6)
  }

  test("append accepts a legacy manifest whose DDL carries NOT NULL markers") {
    // manifests written before nullability normalization stored
    // df.schema.toDDL verbatim (NOT NULL on non-nullable fields);
    // requireSchema must normalize BOTH sides or such tables are
    // permanently refused writes. Simulate one by rewriting v0's
    // schema line the way the old writer emitted it.
    val root = freshRoot("legacy")
    TxTable.create(seed, root, Some("p"))
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$root/_manifest/v0.manifest")
    val text = {
      val in = f.open(p)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    val legacy = text.replaceFirst(
      "#schema=k BIGINT", "#schema=k BIGINT NOT NULL")
    assert(legacy != text, "test fixture must actually inject NOT NULL")
    val os = f.create(p, true)
    try os.write(legacy.getBytes("UTF-8")) finally os.close()
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    assert(TxTable.read(spark, root).count() == 6)
  }

  test("append with a divergent schema is refused before any commit") {
    val root = freshRoot("schema")
    TxTable.create(seed, root, Some("p"))
    val e = intercept[IllegalArgumentException] {
      TxTable.append(Seq((6L, "C")).toDF("k", "p"), root, Some("p"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    assert(TxTable.currentVersion(spark, root).contains(0L), "no commit happened")
  }

  test("compact bin-packs small files, keeps rows identical, one commit") {
    val root = freshRoot("compact")
    TxTable.create(seed, root, Some("p"))
    // accumulate small-file debt: 4 appends → every partition multi-file
    (10L to 13L).foreach { i =>
      TxTable.append(
        Seq((i, "A", i * 1.0), (i + 100L, "B", i * 2.0))
          .toDF("k", "p", "v"), root, Some("p"))
    }
    val before = TxTable.read(spark, root)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    val vBefore = TxTable.currentVersion(spark, root).get
    val filesBefore = TxTable.snapshot(spark, root, vBefore).entries.size
    val vAfter = TxTable.compact(spark, root)
    assert(vAfter == vBefore + 1, "compaction is one commit")
    val snap = TxTable.snapshot(spark, root, vAfter)
    assert(snap.entries.size < filesBefore, "file count must drop")
    assert(snap.entries.groupBy(_.partition).forall(_._2.size == 1),
      "every partition packs to one file at this tiny size")
    val after = TxTable.read(spark, root)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    assert(after == before, "rows identical across compaction")
    // compacted-away files survive for time travel, then vacuum reclaims
    assert(TxTable.readVersion(spark, root, vBefore).count() == before.size)
    TxTable.vacuum(spark, root, keepFromVersion = vAfter)
    assert(TxTable.read(spark, root).count() == before.size)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val oldFiles = TxTable.snapshot(spark, root, vBefore).entries
      .map(_.relPath).toSet -- snap.entries.map(_.relPath).toSet
    assert(oldFiles.nonEmpty && oldFiles.forall(r =>
      !f.exists(new org.apache.hadoop.fs.Path(s"$root/$r"))),
      "replaced files reclaimed by vacuum")
    // idempotent: nothing left to pack → same version, no empty commit
    assert(TxTable.compact(spark, root) == vAfter)
  }

  test("snapshot resolve costs ONE manifest read, not O(history)") {
    val root = freshRoot("cost")
    TxTable.create(seed, root, Some("p"))
    (1L to 10L).foreach { i =>
      TxTable.append(Seq((100L + i, "A", i * 1.0)).toDF("k", "p", "v"),
        root, Some("p"))
    }
    TxTable.manifestReads.set(0L)
    TxTable.read(spark, root)
    assert(TxTable.manifestReads.get == 1L,
      "current-snapshot resolve must read only the newest manifest, " +
        s"got ${TxTable.manifestReads.get} reads over an 11-version history")
    TxTable.manifestReads.set(0L)
    TxTable.readPartitions(spark, root, "p", Seq("A"))
    assert(TxTable.manifestReads.get == 1L)
  }

  test("overwritePartitions with a stale expectedVersion refuses to commit") {
    val root = freshRoot("ev")
    TxTable.create(seed, root, Some("p"))
    val read = TxTable.currentVersion(spark, root).get // transaction reads v0
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    intercept[TxTable.ConcurrentCommitException] {
      TxTable.overwritePartitions(
        Seq((30L, "B", 300.0)).toDF("k", "p", "v"), root, "p",
        expectedVersion = Some(read))
    }
    // the interleaved append's commit is intact; nothing from the
    // refused transaction is visible
    assert(TxTable.read(spark, root).count() == 6)
  }

  test("append under contention: racing appenders ALL land via bounded optimistic retry") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot("apprace")
    TxTable.create(seed, root, Some("p"))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val versions = Await.result(Future.sequence((0 until 8).map(i => Future {
        TxTable.append(Seq((100L + i, "R", i.toDouble)).toDF("k", "p", "v"),
          root, Some("p"))
      })), 120.seconds)
      assert(versions.toSet.size == 8, s"appends shared a version: $versions")
      assert(versions.toSet == (1L to 8L).toSet)
      assert(TxTable.read(spark, root).count() == 5 + 8,
        "a racing append lost rows")
    } finally pool.shutdown()
  }

  test("concurrent commit to the same version: one wins, one aborts cleanly") {
    val root = freshRoot("cc")
    TxTable.create(seed, root, Some("p"))
    TxTable.append(Seq((6L, "C", 60.0)).toDF("k", "p", "v"), root, Some("p"))
    // a second writer that read v0 tries to commit v1 again
    intercept[TxTable.ConcurrentCommitException] {
      // force the race by asking commit for an existing version: replay
      // an append computed against the stale snapshot
      val stale = TxTable.snapshot(spark, root, 0L)
      val m = classOf[TxTable.type].getDeclaredMethods
        .find(_.getName == "commit").get
      m.setAccessible(true)
      try m.invoke(TxTable, spark, root, stale.copy(version = stale.version + 1))
      catch {
        case e: java.lang.reflect.InvocationTargetException => throw e.getCause
      }
    }
    assert(TxTable.read(spark, root).count() == 6, "winner's commit intact")
  }

  test("every manifest re-renders byte-identically") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}
    import graft.sources.MergeOnRead
    val root = freshRoot("render")
    def snap = TxTable.currentSnapshot(spark, root).get
    def row(k: Long, p: String) = Seq((k, p, k * 10.0)).toDF("k", "p", "v")
    TxTable.create(seed, root, Some("p"))
    TxTable.append(row(6L, "A"), root, Some("p"))
    TxTable.txnAppend(row(7L, "B"), root, Some("p"), "q", 0L)
    TxTable.setProperties(spark, root, Map("write.dml.mode" -> "mor"))
    TxTable.addColumns(spark, root,
      Seq(StructField("w", IntegerType), StructField("z", StringType)))
    TxTable.setColumnDefault(spark, root, "w", Some("0"))
    TxTable.widenColumn(spark, root, "w", LongType)
    TxTable.renameColumn(spark, root, "w", "w2")
    TxTable.renameColumn(spark, root, "z", "z2")
    TxTable.addCheck(spark, root, "k_pos", "k > 0")
    MergeOnRead.deleteWhere(spark, root, expr("k = 1"))
    MergeOnRead.updateWhere(spark, root, expr("k = 2"), Seq("v" -> expr("v + 1")))
    val restorable = snap.version
    MergeOnRead.mergeInto(spark, root,
      Seq((3L, "B", 0.5), (9L, "C", 9.5)).toDF("k", "p", "v"), Seq("k"))
    MergeOnRead.materialize(spark, root)
    assert(snap.dvs.isEmpty && snap.aliases.nonEmpty, "materialize drops DVs only")
    MergeOnRead.deleteWhere(spark, root, expr("k = 4"))
    TxTable.overwritePartitions(
      Seq((8L, "C", 80.0, Option(1L), Option("c"))).toDF("k", "p", "v", "w2", "z2"),
      root, "p", expectedVersion = Some(snap.version))
    TxTable.compact(spark, root)
    TxTable.dropCheck(spark, root, "k_pos")
    TxTable.dropColumns(spark, root, Seq("w2"))
    assert(snap.aliases == Map("z2" -> Seq("z")), "dropColumns drops its aliases")
    assert(snap.dvs.nonEmpty)
    TxTable.rewriteAll(spark, root, identity)
    assert(snap.dvs.isEmpty && snap.aliases.isEmpty && snap.layout == Some("p"),
      "rewriteAll clears DVs and aliases and records the declared layout")
    TxTable.txnAppend(row(10L, "A").withColumn("z2", lit("x")), root, Some("p"), "q", 1L)
    val target = TxTable.snapshot(spark, root, restorable)
    TxTable.restore(spark, root, restorable)
    assert(snap.entries == target.entries && snap.dvs == target.dvs &&
      snap.txns == Map("q" -> 1L), "restore keeps the current txns")
    val empty = freshRoot("render_empty")
    TxTable.createEmpty(spark, empty, seed.schema, Some("p"), Map("a" -> "b"))
    val clone = freshRoot("render_clone")
    TxTable.cloneTable(spark, root, clone)
    val roots = Seq(root, empty, clone)
    assert(roots.tail.forall(r => TxTable.versions(spark, r) == Seq(0L)),
      "createEmpty and cloneTable write version 0")
    assert(TxTable.versions(spark, root) == (0L to 21L),
      "every step above commits exactly one version")
    for (r <- roots; v <- TxTable.versions(spark, r)) {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(r, "_manifest", s"v$v.manifest")), "UTF-8")
      assert(TxTable.render(TxTable.parseManifest(v, text, r)) == text,
        s"$r v$v does not re-render byte-identically")
    }
  }
}
