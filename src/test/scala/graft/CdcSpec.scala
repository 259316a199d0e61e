package graft

import org.apache.spark.sql.functions._
import graft.streaming.Cdc

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def feed = Seq(
    // (user_id, amount, lsn, op)
    (1L, 10.0, 1L, Cdc.Op.Insert),
    (2L, 20.0, 2L, Cdc.Op.Insert),
    (1L, 11.0, 3L, Cdc.Op.Update),
    (2L, 0.0, 4L, Cdc.Op.Delete),
    (3L, 30.0, 5L, Cdc.Op.Insert),
    (2L, 25.0, 6L, Cdc.Op.Insert) // re-insert after delete
  ).toDF("user_id", "amount", "lsn", "op")

  private val keys = Seq("user_id")
  private val data = Seq("amount")

  private def state(df: org.apache.spark.sql.DataFrame): Set[(Long, Double, Long)] =
    df.select("user_id", "amount", "last_lsn").as[(Long, Double, Long)]
      .collect().toSet

  test("apply: last-writer-wins with delete-removes and re-insert") {
    val got = state(Cdc.apply(Cdc.emptyTarget(feed, keys, data), feed, keys, data))
    assert(got == Set((1L, 11.0, 3L), (2L, 25.0, 6L), (3L, 30.0, 5L)))
  }

  test("apply is idempotent: same range twice ≡ once") {
    val once = Cdc.apply(Cdc.emptyTarget(feed, keys, data), feed, keys, data)
    val twice = Cdc.apply(once, feed, keys, data)
    assert(state(twice) == state(once))
  }

  test("apply composes: (a,b] then (b,c] ≡ (a,c]") {
    val empty = Cdc.emptyTarget(feed, keys, data)
    for (mid <- 0L to 6L) {
      val seq2 = Cdc.apply(
        Cdc.apply(empty, Cdc.range(feed, "lsn", Long.MinValue, mid), keys, data),
        Cdc.range(feed, "lsn", mid, 6L), keys, data)
      val all = Cdc.apply(empty, feed, keys, data)
      assert(state(seq2) == state(all), s"mid=$mid")
    }
  }

  test("split fans rows by op marker, losslessly") {
    val parts = Cdc.split(feed)
    assert(parts(Cdc.Op.Insert).count() == 4)
    assert(parts(Cdc.Op.Update).count() == 1)
    assert(parts(Cdc.Op.Delete).count() == 1)
  }

  test("retention guard fails loudly on truncated log") {
    Cdc.retentionGuard(stored = 10, minAvailable = 5) // covered: ok
    Cdc.retentionGuard(stored = 4, minAvailable = 5)  // adjacent: ok
    intercept[Cdc.RetentionLossException] {
      Cdc.retentionGuard(stored = 3, minAvailable = 5)
    }
  }

  test("state store round-trips and advances watermarks") {
    val dir = s"target/tmp/cdc_state_${System.nanoTime()}"
    val store = new Cdc.StateStore(spark, dir)
    assert(store.get("pipe") == None)
    store.put("pipe", 42L)
    assert(store.get("pipe") == Some(42L))
    store.put("pipe", 99L)
    store.put("other", 7L)
    assert(store.get("pipe") == Some(99L))
    assert(store.get("other") == Some(7L))
  }

  test("lagHours measures watermark staleness (alert budget C8)") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 12:00:00")
    assert(Cdc.lagHours(t0, t1) == 36.0)
  }

  test("latestPerKey dedups crash-restart duplicates") {
    val dup = feed.union(feed) // replayed range
    val got = Cdc.latestPerKey(dup, keys, "lsn")
    assert(got.count() == 3)
  }

  private def fileStates(dir: String): Set[(String, Long, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists) Set.empty
    else d.listFiles.filter(_.getName.startsWith("part-"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
  }

  test("partition-scoped apply ≡ full rewrite; untouched partitions byte-identical") {
    val dir = s"target/tmp/cdc_part_${System.nanoTime()}"
    val init = (0L until 100L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    init.withColumn("bucket", pmod(col("user_id"), lit(4L)))
      .write.partitionBy("bucket").parquet(dir)

    // buckets touched: 8%4=0, 102%4=2, 13%4=1 — bucket 3 untouched
    val changes = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (102L, 12.0, 11L, Cdc.Op.Insert),
      (13L, 0.0, 12L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")

    val untouchedBefore = fileStates(s"$dir/bucket=3")
    assert(untouchedBefore.nonEmpty)
    Cdc.applyPartitioned(spark, dir, changes, keys, data,
      "bucket", d => pmod(col("user_id"), lit(4L)))
    assert(fileStates(s"$dir/bucket=3") == untouchedBefore)

    val got = spark.read.parquet(dir)
      .select("user_id", "amount", "last_lsn").as[(Long, Double, Long)]
      .collect().toSet
    val ref = Cdc.apply(init, changes, keys, data)
      .as[(Long, Double, Long)].collect().toSet
    assert(got == ref)
  }

  // ---- transactional apply (applyTx over TxTable) ----

  import graft.sources.TxTable

  private def txInit(tag: String, n: Long = 100L): (String, org.apache.spark.sql.DataFrame) = {
    val root = s"target/tmp/cdc_tx_${tag}_${System.nanoTime()}"
    val init = (0L until n).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    TxTable.create(
      init.withColumn("bucket", pmod(col("user_id"), lit(4L))),
      root, Some("bucket"))
    (root, init)
  }

  private def bucketOf = (d: org.apache.spark.sql.DataFrame) =>
    pmod(col("user_id"), lit(4L))

  test("applyTx ≡ applyPartitioned ≡ full rewrite") {
    val (root, init) = txInit("equiv")
    val changes = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (102L, 12.0, 11L, Cdc.Op.Insert),
      (13L, 0.0, 12L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")
    Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
    val got = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    val ref = state(Cdc.apply(init, changes, keys, data))
    assert(got == ref)
    // untouched bucket (3) kept its EXACT manifest entries across the commit
    val v0 = TxTable.snapshot(spark, root, 0L)
    val v1 = TxTable.snapshot(spark, root, 1L)
    assert(v1.entries.filter(_.partition == "bucket=3").toSet ==
      v0.entries.filter(_.partition == "bucket=3").toSet)
  }

  test("applyTxMor ≡ apply; writes ∝ batch; tombstones skip; re-apply idempotent") {
    val root = s"target/tmp/cdc_mor_${System.nanoTime()}"
    val init = (0L until 100L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    // the table's OWN bucket layout places appends — no partOf contract
    TxTable.create(init, root, Some("bucket(4,user_id)"))
    val changes = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (102L, 12.0, 11L, Cdc.Op.Insert),
      (13L, 0.0, 12L, Cdc.Op.Delete),
      (777L, 0.0, 13L, Cdc.Op.Delete) // tombstone for a never-seen key
    ).toDF("user_id", "amount", "lsn", "op")
    val before = TxTable.currentSnapshot(spark, root).get
      .entries.map(e => (e.relPath, e.size)).toSet
    Cdc.applyTxMor(spark, root, changes, keys, data)
    val after = TxTable.currentSnapshot(spark, root).get
    // cost shape: v0 files byte-identical; masks = update + delete
    // (the skipped tombstone masks nothing)
    assert(before.subsetOf(after.entries.map(e => (e.relPath, e.size)).toSet),
      "merge-on-read apply must not rewrite data files")
    assert(after.dvs.map(_.rows).sum == 2L)
    val got = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    val ref = state(Cdc.apply(init, changes, keys, data))
    assert(got == ref)
    // re-applying the same range nets to the same state (idempotent)
    Cdc.applyTxMor(spark, root, changes, keys, data)
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == ref)
    // appended post-images follow the bucket layout
    assert(TxTable.currentSnapshot(spark, root).get.entries
      .forall(_.partition.startsWith("_bucket=")))
  }

  test("applyTxMor with txn is exactly-once under replay; no-op batches advance the watermark") {
    val root = s"target/tmp/cdc_mor_txn_${System.nanoTime()}"
    val init = (0L until 20L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    TxTable.create(init, root, Some("bucket(4,user_id)"))
    def amt() = TxTable.read(spark, root).filter(col("user_id") === 3)
      .select("amount").as[Double].head()
    val b0 = Seq((3L, 33.0, 10L, Cdc.Op.Update))
      .toDF("user_id", "amount", "lsn", "op")
    val v1 = Cdc.applyTxMor(spark, root, b0, keys, data,
      txn = Some(("q1", 0L)))
    assert(v1 == 1L && amt() == 33.0)
    // replay of the same batch id: skipped WHOLESALE, even with
    // different (corrupted/recomputed) content — the watermark is the
    // truth, exactly like txnAppend
    val b0r = Seq((3L, 999.0, 11L, Cdc.Op.Update))
      .toDF("user_id", "amount", "lsn", "op")
    assert(Cdc.applyTxMor(spark, root, b0r, keys, data,
      txn = Some(("q1", 0L))) == v1)
    assert(amt() == 33.0)
    // a no-op batch (tombstone for an unseen key) advances the
    // watermark with a METADATA-ONLY commit — no data, no DV
    val b1 = Seq((999L, 0.0, 12L, Cdc.Op.Delete))
      .toDF("user_id", "amount", "lsn", "op")
    val v2 = Cdc.applyTxMor(spark, root, b1, keys, data,
      txn = Some(("q1", 1L)))
    assert(v2 == v1 + 1)
    val snap = TxTable.currentSnapshot(spark, root).get
    assert(snap.txns.get("q1").contains(1L))
    assert(snap.entries.map(_.relPath) ==
      TxTable.snapshot(spark, root, v1).entries.map(_.relPath))
    assert(snap.dvs == TxTable.snapshot(spark, root, v1).dvs)
    // stale ids stay skipped; the NEXT batch id applies
    assert(Cdc.applyTxMor(spark, root, b0r, keys, data,
      txn = Some(("q1", 0L))) == v2)
    val v3 = Cdc.applyTxMor(spark, root,
      b0r.withColumn("lsn", lit(13L)), keys, data,
      txn = Some(("q1", 2L)))
    assert(v3 == v2 + 1 && amt() == 999.0)
  }

  test("applyTx with a wider-typed partOf still matches stored partitions") {
    // partOf yields DOUBLE against a BIGINT-partitioned table: the
    // collected values must be cast to the stored type before they are
    // stringified, or pruning misses ('bucket=3.0' vs 'bucket=3') while
    // the drop list still empties the partition — losing unchanged keys.
    val (root, init) = txInit("widen")
    val wide = (d: org.apache.spark.sql.DataFrame) =>
      pmod(col("user_id"), lit(4L)).cast("double")
    val changes = Seq((8L, 88.0, 10L, Cdc.Op.Update))
      .toDF("user_id", "amount", "lsn", "op")
    Cdc.applyTx(spark, root, changes, keys, data, "bucket", wide)
    val got = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    val ref = state(Cdc.apply(init, changes, keys, data))
    assert(got == ref,
      "unchanged keys in the touched partition must survive a widened partOf")
  }

  test("applyTx continues across additive schema evolution") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val (root, _) = txInit("evolve")
    // batch 1 under the original schema
    Cdc.applyTx(spark, root,
      Seq((8L, 88.0, 10L, Cdc.Op.Update)).toDF("user_id", "amount", "lsn", "op"),
      keys, data, "bucket", bucketOf)
    // evolve the live table, then apply with the WIDENED dataCols —
    // the changes now carry the new column; unchanged keys read back
    // from old files with it null-backfilled
    TxTable.addColumns(spark, root, Seq(StructField("note", StringType)))
    Cdc.applyTx(spark, root,
      Seq((8L, 99.0, "late", 20L, Cdc.Op.Update),
          (102L, 12.0, "new", 21L, Cdc.Op.Insert))
        .toDF("user_id", "amount", "note", "lsn", "op"),
      keys, Seq("amount", "note"), "bucket", bucketOf)
    val after = TxTable.read(spark, root)
    assert(after.filter(col("user_id") === 8L).head.getAs[String]("note") == "late")
    assert(after.filter(col("user_id") === 102L).head.getAs[String]("note") == "new")
    // untouched keys: value preserved, new column null
    val untouched = after.filter(col("user_id") === 9L).head
    assert(untouched.getAs[Double]("amount") == 9.0)
    assert(untouched.isNullAt(untouched.fieldIndex("note")))
    assert(after.count() == 101) // 100 seed + 1 insert
    // a STALE pipeline still applying with the old dataCols fails
    // loudly (missing column), never silently nulling the new field
    intercept[Exception] {
      Cdc.applyTx(spark, root,
        Seq((9L, 1.0, 30L, Cdc.Op.Update)).toDF("user_id", "amount", "lsn", "op"),
        keys, data, "bucket", bucketOf)
    }
  }

  test("applyTx is idempotent: the same range twice ≡ once") {
    val (root, init) = txInit("idem")
    val changes = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (13L, 0.0, 12L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")
    Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
    val once = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
    val twice = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    assert(twice == once)
  }

  test("aborted applyTx commit leaves the readable snapshot bit-identical") {
    val (root, init) = txInit("crash")
    val before = state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn"))
    // occupy version 1 with a torn manifest (a crashed concurrent
    // writer): applyTx's reconcile and data write proceed, but its
    // exclusive-create commit point must refuse — and refusal must be
    // invisible to readers
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val os = f.create(
      new org.apache.hadoop.fs.Path(s"$root/_manifest/v1.manifest"), false)
    os.write("#schema=`x` BIGINT\n".getBytes("UTF-8")) // no #eof
    os.close()
    val changes = Seq((8L, 88.0, 10L, Cdc.Op.Update))
      .toDF("user_id", "amount", "lsn", "op")
    intercept[TxTable.ConcurrentCommitException] {
      Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
    }
    assert(TxTable.currentVersion(spark, root).contains(0L))
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == before,
      "a failed commit must leave the readable table untouched")
    // the aborted write's data files are orphans; vacuum reclaims them
    // and the snapshot still reads whole
    TxTable.recover(spark, root)
    TxTable.vacuum(spark, root, keepFromVersion = 0L)
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == before)
  }

  test("applyTx drops delete-emptied partitions in the same commit") {
    val (root, _) = txInit("empty", n = 8L)
    // delete every bucket-1 key (1 and 5)
    val changes = Seq(
      (1L, 0.0, 10L, Cdc.Op.Delete),
      (5L, 0.0, 11L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")
    val v = Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
    assert(v == 1L, "drop + overwrite land in ONE commit")
    val snap = TxTable.snapshot(spark, root, v)
    assert(!snap.entries.exists(_.partition == "bucket=1"),
      "emptied partition's files leave the manifest in the same commit")
    val got = TxTable.read(spark, root).select("user_id").as[Long].collect().toSet
    assert(got == Set(0L, 2L, 3L, 4L, 6L, 7L))
  }

  test("applyTx lifecycle: batches → compact → vacuum, state preserved") {
    val (root, init) = txInit("life", n = 20L)
    // 4 incremental batches, each touching a couple of keys
    val batches = Seq(
      Seq((2L, 2.2, 10L, Cdc.Op.Update), (21L, 21.0, 11L, Cdc.Op.Insert)),
      Seq((3L, 3.3, 12L, Cdc.Op.Update), (7L, 0.0, 13L, Cdc.Op.Delete)),
      Seq((21L, 21.5, 14L, Cdc.Op.Update), (2L, 2.5, 15L, Cdc.Op.Update)),
      Seq((11L, 0.0, 16L, Cdc.Op.Delete), (30L, 30.0, 17L, Cdc.Op.Insert)))
    var ref = init
    batches.foreach { b =>
      val changes = b.toDF("user_id", "amount", "lsn", "op")
      Cdc.applyTx(spark, root, changes, keys, data, "bucket", bucketOf)
      ref = Cdc.apply(ref, changes, keys, data)
    }
    val want = state(ref)
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == want)
    // small-file debt from 4 upserts packs down in one commit…
    val vBefore = TxTable.currentVersion(spark, root).get
    val filesBefore = TxTable.snapshot(spark, root, vBefore).entries.size
    val vc = TxTable.compact(spark, root)
    assert(vc == vBefore + 1)
    assert(TxTable.snapshot(spark, root, vc).entries.size < filesBefore)
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == want)
    // …and vacuum reclaims replaced history without touching the live set
    TxTable.vacuum(spark, root, keepFromVersion = vc)
    assert(state(TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn")) == want)
  }

  test("partition-scoped apply removes partitions emptied by deletes") {
    val dir = s"target/tmp/cdc_part_empty_${System.nanoTime()}"
    val init = (1L to 8L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    init.withColumn("bucket", pmod(col("user_id"), lit(4L)))
      .write.partitionBy("bucket").parquet(dir)
    // delete every bucket-1 key (1 and 5)
    val changes = Seq(
      (1L, 0.0, 10L, Cdc.Op.Delete),
      (5L, 0.0, 11L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")
    Cdc.applyPartitioned(spark, dir, changes, keys, data,
      "bucket", d => pmod(col("user_id"), lit(4L)))
    assert(!new java.io.File(s"$dir/bucket=1").exists)
    val got = spark.read.parquet(dir)
      .select("user_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 4L, 6L, 7L, 8L))
  }

  test("applyPartitioned frees its checkpointed blocks") {
    val dir = s"target/tmp/cdc_part_cpfree_${System.nanoTime()}"
    (0L until 100L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
      .withColumn("bucket", pmod(col("user_id"), lit(4L)))
      .write.partitionBy("bucket").parquet(dir)
    val changes = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (13L, 0.0, 12L, Cdc.Op.Delete)
    ).toDF("user_id", "amount", "lsn", "op")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    Cdc.applyPartitioned(spark, dir, changes, keys, data,
      "bucket", d => pmod(col("user_id"), lit(4L)))
    assert(sc.getPersistentRDDs.size <= before,
      s"applyPartitioned left ${sc.getPersistentRDDs.size - before} RDDs resident")
  }
}
