package graft

import org.apache.spark.sql.functions._
import graft.operators.{IncrementalAgg, Multimodal}
import graft.streaming.{Cdc, Streams}

class StreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hourly aggregate equals the batch rollup") {
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val streamed = Streams.drainComplete(
      spark,
      Streams.hourlyAgg(Streams.eventsStream(spark, sf)),
      s"t_${System.nanoTime()}")
      .select(col("hour_ts"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming CDC upsert equals batch apply on the same feed") {
    val feed = Tables.events(spark, sf).select(
      col("user_id"), col("value").as("amount"),
      col("event_id").as("lsn"),
      when(col("event_type") === "error", Cdc.Op.Delete)
        .when(col("event_type") === "signup", Cdc.Op.Insert)
        .otherwise(Cdc.Op.Update).as("op"))
    val batchResult = Cdc.apply(
      Cdc.emptyTarget(feed, Seq("user_id"), Seq("amount")),
      feed, Seq("user_id"), Seq("amount"))
      .as[(Long, Double, Long)].collect().toSet

    // bounded stream over the same rows via an in-memory source dir
    val dir = s"target/tmp/cdcstream_${System.nanoTime()}"
    feed.write.parquet(dir)
    val schema = feed.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val streamResult = Streams.cdcUpsertStream(
      spark, stream, Seq("user_id"), Seq("amount"))
      .as[(Long, Double, Long)].collect().toSet
    assert(streamResult == batchResult)
  }

  test("append-mode watermarked windows emit exactly the closed windows") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sf).persist()
    val medianSec = ev.select(percentile_approx(
      col("ts").cast("double"), lit(0.5), lit(100))).head.getDouble(0)
    val medianTs = new java.sql.Timestamp((medianSec * 1000).toLong)
    val dir = s"target/tmp/wm_${System.nanoTime()}"
    // two time-ordered files -> two micro-batches -> watermark advances
    ev.filter(col("ts") <= lit(medianTs)).coalesce(1)
      .write.parquet(s"$dir/batch=0")
    Thread.sleep(1100) // distinct mod times keep file order deterministic
    ev.filter(col("ts") > lit(medianTs)).coalesce(1)
      .write.parquet(s"$dir/batch=1")
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val agg = Streams.hourlyAggAppend(stream, "1 hour")
    val name = s"wm_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table(name)
      .select(col("hour_ts"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    // watermark after batch 0 = median - 1h; windows ending before it
    // were emitted during batch 1
    assert(emitted.nonEmpty, "at least the early windows must have closed")
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // every emitted window matches the batch result exactly (no
    // partial/duplicate emission)
    emitted.foreach { case (ts, et, n) =>
      assert(batch((ts, et)) == n, s"window $ts/$et")
    }
    ev.unpersist()
  }

  test("flatMapGroupsWithState running totals equal the batch aggregate") {
    import org.apache.spark.sql.streaming.Trigger
    val agg = Streams.runningUserTotals(
      spark, Streams.eventsStream(spark, sf))
    val name = s"fmgws_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // keep the LAST emission per user (one per micro-batch)
    val streamed = spark.table(name)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
      .as[(Long, Long)].collect().toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming session windows match the batch sessions they close") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sf).persist()
    val medianSec = ev.select(percentile_approx(
      col("ts").cast("double"), lit(0.5), lit(100))).head.getDouble(0)
    val medianTs = new java.sql.Timestamp((medianSec * 1000).toLong)
    val dir = s"target/tmp/sess_${System.nanoTime()}"
    ev.filter(col("ts") <= lit(medianTs)).coalesce(1)
      .write.parquet(s"$dir/batch=0")
    Thread.sleep(1100)
    ev.filter(col("ts") > lit(medianTs)).coalesce(1)
      .write.parquet(s"$dir/batch=1")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val name = s"sess_${System.nanoTime()}"
    val q = Streams.sessionizeStream(stream, "30 minutes", "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table(name)
      .select(col("user_id"), col("session_start"), col("n_events"), col("total_value"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    assert(emitted.nonEmpty, "watermark advance must close early sessions")
    val batch = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("tv"))
      .select(col("user_id"), col("session_window.start"), col("n"), col("tv"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    emitted.foreach { case (u, st, n, tv) =>
      assert(batch((u, st)) == ((n, tv)), s"session $u/$st")
    }
    ev.unpersist()
  }

  test("stream-stream time-bounded join equals the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, sf).persist()
    val dir = s"target/tmp/ssj_${System.nanoTime()}"
    val lB = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_id"))
    val rB = ev.select(col("user_id").as("u2"), col("ts").as("ts2"), col("event_id"))
    lB.coalesce(1).write.parquet(s"$dir/left")
    rB.withColumnRenamed("u2", "user_id").withColumnRenamed("ts2", "ts")
      .coalesce(1).write.parquet(s"$dir/right")
    val ls = spark.readStream
      .schema(spark.read.parquet(s"$dir/left").schema).parquet(s"$dir/left")
    val rs = spark.readStream
      .schema(spark.read.parquet(s"$dir/right").schema).parquet(s"$dir/right")
    val name = s"ssj_${System.nanoTime()}"
    val q = Streams.streamStreamJoin(ls, rs, "user_id", "1 HOUR", "2 hours")
      .select(col("signup_id"), col("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .as[(Long, Long)].collect().toSet
    val batch = lB.join(rB,
        col("user_id") === col("u2") &&
          col("ts2") >= col("ts") &&
          col("ts2") <= col("ts") + expr("INTERVAL 1 HOUR"))
      .select(col("signup_id"), col("event_id"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    ev.unpersist()
  }

  test("streaming dedup suppresses cross-batch duplicates within the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = s"target/tmp/dedupstream_${System.nanoTime()}"
    // batch 0: keys 1,2 (key 1 twice); batch 1: key 1 AGAIN (in-window
    // duplicate) + key 3 — event times close together so the watermark
    // never expires key 1's state between batches
    Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:00:05"),
        (2L, "2024-01-01 10:00:10"))
      .toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/batch=0")
    Thread.sleep(1100)
    Seq((1L, "2024-01-01 10:00:20"), (3L, "2024-01-01 10:00:30"))
      .toDF("k", "ts").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/batch=1")
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val deduped = Streams.dedupStream(stream, Seq("k"), "ts", "10 minutes")
    val name = s"dedup_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val keys = spark.table(name).select(col("k")).as[Long].collect().toSeq
    assert(keys.sorted == Seq(1L, 2L, 3L), s"got $keys")
  }

  test("streaming applyTx: crash-restart neither loses nor double-applies a batch") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.sources.TxTable
    import graft.streaming.Streams

    val base = s"target/tmp/txstream_${System.nanoTime()}"
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val feedDir = s"$base/feed"
    val keys = Seq("user_id"); val data = Seq("amount")
    val bucketOf = (d: org.apache.spark.sql.DataFrame) =>
      pmod(col("user_id"), lit(4L))

    val init = (0L until 100L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    TxTable.create(
      init.withColumn("bucket", pmod(col("user_id"), lit(4L))), root, Some("bucket"))

    // two change files -> two micro-batches (maxFilesPerTrigger=1)
    val b0 = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (102L, 12.0, 11L, Cdc.Op.Insert),
      (13L, 0.0, 12L, Cdc.Op.Delete)).toDF("user_id", "amount", "lsn", "op")
    val b1 = Seq(
      (8L, 99.0, 20L, Cdc.Op.Update), // second update of the same key
      (102L, 0.0, 21L, Cdc.Op.Delete),
      (55L, 5.5, 22L, Cdc.Op.Update)).toDF("user_id", "amount", "lsn", "op")
    b0.coalesce(1).write.parquet(s"$feedDir/f=0")
    Thread.sleep(1100) // distinct mod times keep file->batch order deterministic
    b1.coalesce(1).write.parquet(s"$feedDir/f=1")

    def stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)

    // run 1: crash AFTER batch 0's manifest commit, BEFORE the
    // checkpoint commit — the at-least-once window
    val ex = intercept[StreamingQueryException] {
      Streams.cdcApplyTxStream(spark, stream, root, keys, data,
        "bucket", bucketOf, ckpt,
        afterBatch = bid => if (bid == 0) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    // batch 0's transaction IS committed (version advanced past create's v0)
    val vAfterCrash = TxTable.currentVersion(spark, root).get
    assert(vAfterCrash >= 1L, "batch 0 must have committed before the crash")

    // run 2: same checkpoint — Spark replays batch 0 (its checkpoint
    // commit never happened), applyTx folds it idempotently, then
    // batch 1 applies
    Streams.cdcApplyTxStream(spark, stream, root, keys, data,
      "bucket", bucketOf, ckpt)

    val got = TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn").as[(Long, Double, Long)]
      .collect().toSet
    val ref = Cdc.apply(Cdc.apply(init, b0, keys, data), b1, keys, data)
      .as[(Long, Double, Long)].collect().toSet
    assert(got == ref)
    // spot-check the batch-boundary keys: 8 carries batch 1's value
    // exactly once, 102 inserted then deleted, 13 deleted in batch 0
    assert(got.contains((8L, 99.0, 20L)))
    assert(!got.exists(_._1 == 102L))
    assert(!got.exists(_._1 == 13L))
  }

  test("streaming applyTxMor: crash-restart replays skip WHOLESALE via the txn watermark") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.sources.TxTable
    import graft.streaming.Streams

    val base = s"target/tmp/txmorstream_${System.nanoTime()}"
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    val feedDir = s"$base/feed"
    val keys = Seq("user_id"); val data = Seq("amount")

    val init = (0L until 100L).map(k => (k, k * 1.0, 1L))
      .toDF("user_id", "amount", "last_lsn")
    // the table's OWN layout places post-images — no partOf contract
    TxTable.create(init, root, Some("bucket(4,user_id)"))

    val b0 = Seq(
      (8L, 88.0, 10L, Cdc.Op.Update),
      (102L, 12.0, 11L, Cdc.Op.Insert),
      (13L, 0.0, 12L, Cdc.Op.Delete)).toDF("user_id", "amount", "lsn", "op")
    val b1 = Seq(
      (8L, 99.0, 20L, Cdc.Op.Update),
      (102L, 0.0, 21L, Cdc.Op.Delete),
      (55L, 5.5, 22L, Cdc.Op.Update)).toDF("user_id", "amount", "lsn", "op")
    b0.coalesce(1).write.parquet(s"$feedDir/f=0")
    Thread.sleep(1100)
    b1.coalesce(1).write.parquet(s"$feedDir/f=1")

    def stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)

    // run 1: crash AFTER batch 0's manifest commit, BEFORE the
    // checkpoint commit — the at-least-once window
    val ex = intercept[StreamingQueryException] {
      Streams.cdcApplyTxMorStream(spark, stream, root, keys, data, ckpt,
        afterBatch = bid => if (bid == 0) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    val vAfterCrash = TxTable.currentVersion(spark, root).get
    assert(vAfterCrash == 1L, "batch 0 must have committed before the crash")

    // run 2: Spark replays batch 0 — the watermark skips it WITHOUT
    // burning a version, then batch 1 applies as exactly one commit
    Streams.cdcApplyTxMorStream(spark, stream, root, keys, data, ckpt)
    assert(TxTable.currentVersion(spark, root).get == 2L,
      "replayed batch must not burn a version")

    val got = TxTable.read(spark, root)
      .select("user_id", "amount", "last_lsn").as[(Long, Double, Long)]
      .collect().toSet
    val ref = Cdc.apply(Cdc.apply(init, b0, keys, data), b1, keys, data)
      .as[(Long, Double, Long)].collect().toSet
    assert(got == ref)
    assert(got.contains((8L, 99.0, 20L)))
    assert(!got.exists(_._1 == 102L))
    assert(!got.exists(_._1 == 13L))
    // the watermark landed with the data commit
    assert(TxTable.currentSnapshot(spark, root).get
      .txns.get(s"cdc_mor:$ckpt").contains(1L))
  }

  test("streaming sketch MV: crash-restart neither loses nor double-counts a batch") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.sources.TxTable
    import graft.streaming.Streams

    val base = s"target/tmp/sketchstream_${System.nanoTime()}"
    val mvRoot = s"$base/mv"; val ckpt = s"$base/ckpt"; val feedDir = s"$base/feed"

    // two micro-batches with overlapping users: u0..u59 then u40..u99
    // (duplicates within AND across batches exercise the fold)
    val b0 = (0 until 120).map(i => (s"t${i % 2}", i % 60L)).toDF("k", "u")
    val b1 = (0 until 120).map(i => (s"t${i % 2}", 40L + i % 60)).toDF("k", "u")
    b0.coalesce(1).write.parquet(s"$feedDir/f=0")
    Thread.sleep(1100)
    b1.coalesce(1).write.parquet(s"$feedDir/f=1")

    def stream = spark.readStream.schema(b0.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)

    // run 1: crash in the at-least-once window of batch 0 (MV version
    // committed, checkpoint commit not reached)
    val ex = intercept[StreamingQueryException] {
      Streams.sketchMvStream(spark, stream, mvRoot, Seq("k"), "u", ckpt,
        afterBatch = bid => if (bid == 0) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    assert(TxTable.currentVersion(spark, mvRoot).get == 1L)

    // run 2: batch 0 replays (skipped by the version gate), batch 1 folds
    Streams.sketchMvStream(spark, stream, mvRoot, Seq("k"), "u", ckpt)
    assert(TxTable.currentVersion(spark, mvRoot).get == 2L)

    val got = Streams.readSketchMv(spark, mvRoot, Seq("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val all = b0.unionByName(b1)
    val exact = all.groupBy("k")
      .agg(count(lit(1)).as("n"), countDistinct(col("u")).as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // n is the non-idempotent leg: any double-fold of batch 0 would
    // inflate it; distincts are coupon-exact at this cardinality
    assert(got == exact, s"got $got, want $exact")
    // every batch boundary is a time-travelable version: v1 holds
    // exactly batch 0's fold
    val v1 = graft.operators.Sketches.estimateDistinct(
        TxTable.readVersion(spark, mvRoot, 1L), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1 == Map("t0" -> 60L, "t1" -> 60L))
  }

  test("writeStream.format(\"graft\"): crash-restart appends exactly once") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.sources.{GraftSink, TxTable}

    val base = s"target/tmp/fmtsink_${System.nanoTime()}"
    val root = s"$base/table"; val ckpt = s"$base/ckpt"; val feedDir = s"$base/feed"

    val b0 = (0 until 50).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    val b1 = (50 until 90).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    b0.coalesce(1).write.parquet(s"$feedDir/f=0")
    Thread.sleep(1100) // distinct mod times keep file->batch order deterministic
    b1.coalesce(1).write.parquet(s"$feedDir/f=1")

    def run(): Unit = {
      val q = spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(feedDir)
        .writeStream.format("graft")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(root)
      q.awaitTermination()
    }

    // run 1: crash AFTER batch 0's manifest commit, BEFORE the
    // checkpoint commit — the at-least-once replay window
    GraftSink.afterBatchHook =
      bid => if (bid == 0) throw new RuntimeException("injected crash")
    try {
      val ex = intercept[StreamingQueryException] { run() }
      assert(ex.getMessage.contains("injected crash"))
    } finally GraftSink.afterBatchHook = _ => ()

    // batch 0's rows AND its watermark are on disk, atomically
    assert(TxTable.read(spark, root).count() == 50)
    val crashed = TxTable.currentSnapshot(spark, root).get
    assert(crashed.txns.values.toSeq == Seq(0L),
      s"batch-0 watermark must be committed, got ${crashed.txns}")

    // run 2: batch 0 replays (deduped by the watermark), batch 1 lands
    run()
    val rows = TxTable.read(spark, root).as[(Long, String)].collect()
    assert(rows.length == 90, s"exactly-once violated: ${rows.length} rows")
    assert(rows.map(_._1).distinct.length == 90)
    val fin = TxTable.currentSnapshot(spark, root).get
    assert(fin.txns.values.toSeq == Seq(1L))
    // the format reader sees the same exactly-once table
    assert(spark.read.format("graft").load(root).count() == 90)
  }

  test("readStream.format(\"graft\"): version-tail replication, exactly-once end to end") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.sources.{GraftSink, TxTable}

    val base = s"target/tmp/fmttail_${System.nanoTime()}"
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"

    TxTable.create((0 until 30).map(i => (i.toLong, s"r$i")).toDF("k", "s"), src)
    TxTable.append((30 until 50).map(i => (i.toLong, s"r$i")).toDF("k", "s"), src)

    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }

    // run 1: the full snapshot (v0+v1 files) arrives as one batch
    run()
    assert(TxTable.read(spark, dst).count() == 50)

    // more source commits, then a crash in the sink's replay window
    TxTable.append((50 until 70).map(i => (i.toLong, s"r$i")).toDF("k", "s"), src)
    var crashed = false
    GraftSink.afterBatchHook = _ =>
      if (!crashed) { crashed = true; throw new RuntimeException("injected crash") }
    try {
      val ex = intercept[StreamingQueryException] { run() }
      assert(ex.getMessage.contains("injected crash"))
    } finally GraftSink.afterBatchHook = _ => ()
    run() // restart: the replayed version range dedups through the txn watermark

    val rows = TxTable.read(spark, dst).as[(Long, String)].collect()
    assert(rows.length == 70, s"exactly-once violated: ${rows.length} rows")
    assert(rows.map(_._1).distinct.length == 70)

    // startingVersion=latest tails only future commits
    val q = spark.readStream.format("graft")
      .option("startingVersion", "latest").load(src)
      .writeStream.format("memory").queryName("fmt_tail_q")
      .outputMode("append").start()
    try {
      TxTable.append((70 until 75).map(i => (i.toLong, s"r$i")).toDF("k", "s"), src)
      q.processAllAvailable()
      assert(spark.table("fmt_tail_q").as[(Long, String)].collect()
        .map(_._1).sorted.toSeq == (70L until 75L))
    } finally q.stop()

    // a non-append commit (compaction removed files) fails loudly
    TxTable.compact(spark, src)
    val ex2 = intercept[StreamingQueryException] { run() }
    assert(ex2.getMessage.contains("non-append change"),
      s"wanted the append-only refusal, got: ${ex2.getMessage.take(300)}")
  }

  test("maxVersionsPerTrigger bounds catch-up batches on the graft source") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.TxTable

    val src = s"target/tmp/ratesrc_${System.nanoTime()}/t"
    TxTable.create(Seq((0L, "r0")).toDF("k", "s"), src)
    (1 to 3).foreach(i =>
      TxTable.append(Seq((i.toLong, s"r$i")).toDF("k", "s"), src))
    // backlog: v0..v3; tail from v0 with one version per trigger
    // (continuous trigger: AvailableNow latches the first capped
    // offset as the run's end — see the source scaladoc)
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(src)
      .writeStream.format("memory").queryName("rate_q")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("rate_q").as[(Long, String)].collect().map(_._1).sorted
        .toSeq == Seq(1L, 2L, 3L), "tail from v0 = appends of v1..v3")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"3 backlog versions at 1/trigger must take 3 batches, " +
          s"took ${batches.length}")
    } finally q.stop()
  }

  test("sink auto-compaction bounds the file count of micro-batch ingest") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.TxTable

    val base = s"target/tmp/autocmp_${System.nanoTime()}"
    val dst = s"$base/table"; val ckpt = s"$base/ckpt"; val feedDir = s"$base/feed"
    (0 until 5).foreach { i =>
      (i * 10 until (i + 1) * 10).map(j => (j.toLong, s"r$j")).toDF("k", "s")
        .coalesce(1).write.parquet(s"$feedDir/f=$i")
      Thread.sleep(250)
    }
    val q = spark.readStream.schema(
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("s", "string"))
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)
      .writeStream.format("graft")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .option("autoCompactFiles", "3")
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    val snap = TxTable.currentSnapshot(spark, dst).get
    assert(snap.entries.size < 5,
      s"5 micro-batches must compact below 5 files, have ${snap.entries.size}")
    val rows = TxTable.read(spark, dst).as[(Long, String)].collect()
    assert(rows.length == 50 && rows.map(_._1).distinct.length == 50,
      "compaction keeps rows identical")
    assert(snap.txns.values.toSeq == Seq(4L), "watermark survives compaction")
  }

  test("readStream change feed: row-level deltas per version; compaction nets to zero") {
    import graft.sources.TxTable

    val src = s"target/tmp/cdfsrc_${System.nanoTime()}/t"
    TxTable.create(Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0)
    ).toDF("k", "p", "v"), src, Some("p"))

    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", "k")
      .load(src)
      .writeStream.format("memory").queryName("cdf_q")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def snap(): Set[(Long, String, Double, String)] =
        spark.table("cdf_q").select("k", "p", "v", "_op")
          .as[(Long, String, Double, String)].collect().toSet
      val initial = snap()
      assert(initial == Set(
        (1L, "A", 10.0, "insert"), (2L, "A", 20.0, "insert"),
        (3L, "B", 30.0, "insert"), (4L, "B", 40.0, "insert")),
        "bootstrap batch = snapshot as inserts")

      // v1 rewrites partition A: k1 updated, k2 deleted, k5 inserted
      TxTable.overwritePartitions(
        Seq((1L, "A", 11.0), (5L, "A", 50.0)).toDF("k", "p", "v"), src, "p")
      q.processAllAvailable()
      assert(snap() -- initial == Set(
        (1L, "A", 11.0, "update"),
        (2L, "A", 20.0, "delete"),
        (5L, "A", 50.0, "insert")),
        "an overwrite streams its net row changes")

      // compaction moves every row into new files — and nets to zero
      val before = snap()
      TxTable.compact(spark, src)
      q.processAllAvailable()
      assert(snap() == before, "compaction must emit no change rows")
    } finally q.stop()
  }

  test("multimodal: schema contract, batch decode, deterministic features") {
    val media = Multimodal.syntheticMedia(Tables.documents(spark, sf))
    assert(media.schema("bytes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(media)
    val row = feats.filter(col("media_id") === 0).head
    val f = row.getSeq[Float](row.fieldIndex("features")).toList
    assert(f.length == 16)
    assert(math.abs(f.sum - 1.0f) < 1e-3, "histogram normalized")
    // text payloads are not images: decoded must be NULL, not garbage
    assert(row.isNullAt(row.fieldIndex("decoded")))
    // determinism: same input -> same features
    val again = Multimodal.extractFeatures(media)
      .filter(col("media_id") === 0).head match { case r => r.getSeq[Float](r.fieldIndex("features")).toList }
    assert(f == again)
    assert(feats.count() == media.count())
  }

  test("multimodal: REAL ImageIO decode of PNG payloads (P12)") {
    val docs = Tables.documents(spark, sf).limit(30)
    val media = Multimodal.syntheticMediaWithImages(docs)
    val feats = Multimodal.extractFeatures(media)
    val images = feats.filter(col("kind") === "image")
      .select("media_id", "meta.width", "meta.height",
        "decoded.width", "decoded.height", "decoded.format", "features")
      .collect()
    assert(images.nonEmpty, "expected image-kind rows in the sample")
    images.foreach { r =>
      val id = r.getLong(0)
      // decoded dimensions come from the actual PNG pixels, and must
      // equal the generator's geometry (width = 8 + id % 8, height 8)
      assert(r.getInt(3) == 8 + (id % 8).toInt, s"decoded width for $id")
      assert(r.getInt(4) == 8, s"decoded height for $id")
      assert(r.getString(5) == "png")
      val hist = r.getSeq[Float](6)
      assert(hist.length == 16)
      assert(math.abs(hist.sum - 1.0f) < 1e-3, "luminance histogram normalized")
    }
    // non-image rows keep byte features and a NULL decoded struct
    val others = feats.filter(col("kind") =!= "image")
    assert(others.filter(col("decoded").isNotNull).count() == 0)
  }

  test("multimodal frame sampling emits stride-filtered chunks") {
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, sf).limit(5))
    val frames = Multimodal.sampleFrames(media, frames = 8, stride = 2)
    assert(frames.count() == 5 * 4) // every 2nd of 8 frames
    assert(frames.filter(length(col("frame_bytes")) === 0).count() == 0)
  }

  test("multimodal LOB export: one file per row, bytes survive the roundtrip") {
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, sf).limit(7))
    val out = s"target/tmp/lob_spec_${System.nanoTime()}"
    val manifest = Multimodal
      .exportFiles(media, "media_id", "bytes", out).collect()
    assert(manifest.length == 7)
    // re-read each exported file raw and compare to the source payload
    val src = media.select("media_id", "bytes").collect()
      .map(r => r.getLong(0).toString -> r.getAs[Array[Byte]](1)).toMap
    manifest.foreach { r =>
      val (id, path, n) = (r.getString(0), r.getString(1), r.getLong(2))
      val got = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(path).getPath))
      assert(got.sameElements(src(id)), s"byte mismatch for $id")
      assert(n == got.length)
    }
    // re-export overwrites idempotently (same ids, same content)
    val again = Multimodal.exportFiles(media, "media_id", "bytes", out)
    assert(again.count() == 7)
  }

  test("multimodal audio: PCM windows carry the expected energy and rate") {
    def pcmBytes(samples: Seq[Short]): Array[Byte] =
      samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    // 2048 samples = 2 windows of 1024: silence, then a full-swing
    // alternating (Nyquist) tone — rms 0→~1, zcr 0→1
    val silence = Seq.fill[Short](1024)(0)
    val nyquist = (0 until 1024).map(i =>
      if (i % 2 == 0) (32767: Short) else (-32768: Short))
    val media = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, pcmBytes(silence ++ nyquist)),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, Array.emptyByteArray)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, true))))
    val got = Multimodal.audioFeatures(media, windowSamples = 1024)
      .select(col("media_id"), col("audio"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    val w = got(1L)
    assert(w.size == 2)
    assert(w(0).getFloat(0) == 0f && w(0).getFloat(1) == 0f) // silence
    assert(w(1).getFloat(0) > 0.9f, s"nyquist rms ${w(1).getFloat(0)}")
    assert(w(1).getFloat(1) == 1f, s"nyquist zcr ${w(1).getFloat(1)}")
    // null/empty payloads: empty window arrays, not errors
    assert(got(2L).isEmpty && got(3L).isEmpty)
    // determinism across layouts
    val again = Multimodal.audioFeatures(media.repartition(3), 1024)
      .select(col("media_id"), col("audio"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(again == got)
  }

  test("multimodal audio: REAL WAV/AIFF decode via javax.sound.sampled") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def container(samples: Seq[Short], channels: Int, bigEndian: Boolean,
        typ: AudioFileFormat.Type): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16,
        channels, 2 * channels, 8000f, bigEndian)
      val pcm = new Array[Byte](samples.size * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        if (bigEndian) { pcm(2 * i) = (s >> 8).toByte; pcm(2 * i + 1) = s.toByte }
        else { pcm(2 * i) = s.toByte; pcm(2 * i + 1) = (s >> 8).toByte }
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt,
        samples.size / channels), typ, bos)
      bos.toByteArray
    }
    val silence = Seq.fill[Short](1024)(0)
    val nyquist = (0 until 1024).map(i =>
      if (i % 2 == 0) (32767: Short) else (-32768: Short))
    val tone = silence ++ nyquist
    // stereo: L = tone, R = 0 → mono downmix halves the amplitude
    val stereo = tone.flatMap(s => Seq(s, 0: Short))
    val media = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L,
          container(tone, 1, false, AudioFileFormat.Type.WAVE)),
        org.apache.spark.sql.Row(2L,
          container(tone, 1, true, AudioFileFormat.Type.AIFF)),
        org.apache.spark.sql.Row(3L,
          container(stereo, 2, false, AudioFileFormat.Type.WAVE)),
        org.apache.spark.sql.Row(4L, "not audio at all".getBytes)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, true))))
    val got = Multimodal.audioFeatures(media, windowSamples = 1024)
      .select(col("media_id"), col("audio"), col("decoded"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[org.apache.spark.sql.Row](1), r.getAs[org.apache.spark.sql.Row](2))).toMap

    // WAV mono: sample-exact — window 0 silent, window 1 full-swing
    val (wavWin, wavMeta) = got(1L)
    assert(wavWin.size == 2)
    assert(wavWin(0).getFloat(0) == 0f && wavWin(0).getFloat(1) == 0f)
    assert(wavWin(1).getFloat(0) > 0.9f && wavWin(1).getFloat(1) == 1f)
    assert(wavMeta != null, "WAV payload must decode (non-null `decoded`)")
    assert(wavMeta.getFloat(0) == 8000f && wavMeta.getInt(1) == 1 &&
      wavMeta.getInt(2) == 16 && wavMeta.getString(3) == "PCM_SIGNED")
    // AIFF (big-endian) carries the SAME samples → identical features
    val (aiffWin, aiffMeta) = got(2L)
    assert(aiffWin == wavWin, "endianness must not leak into features")
    assert(aiffMeta != null && aiffMeta.getFloat(0) == 8000f)
    // stereo downmix: R channel silent → rms exactly halved, zcr kept
    val (stWin, stMeta) = got(3L)
    assert(stMeta.getInt(1) == 2)
    assert(stWin.size == 2 && stWin(0).getFloat(0) == 0f)
    assert(math.abs(stWin(1).getFloat(0) - wavWin(1).getFloat(0) / 2) < 1e-6,
      s"stereo downmix rms ${stWin(1).getFloat(0)} vs mono ${wavWin(1).getFloat(0)}")
    assert(stWin(1).getFloat(1) == 1f)
    // non-audio bytes: raw-PCM fallback, decoded NULL
    val (rawWin, rawMeta) = got(4L)
    assert(rawMeta == null && rawWin.nonEmpty)
    assert(rawWin == Multimodal.pcmWindows("not audio at all".getBytes, 1024))
  }

  test("multimodal audio: 24-bit WAV decodes sample-exact, never raw-fallback") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // same silence→nyquist program as the 16-bit test, at 24-bit depth
    val silence = Seq.fill(1024)(0)
    val nyquist = (0 until 1024).map(i => if (i % 2 == 0) 0x7fffff else -0x800000)
    val samples = silence ++ nyquist
    val pcm = new Array[Byte](samples.size * 3) // little-endian packed
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(3 * i) = s.toByte
      pcm(3 * i + 1) = (s >> 8).toByte
      pcm(3 * i + 2) = (s >> 16).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 24,
      1, 3, 8000f, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.size),
      AudioFileFormat.Type.WAVE, bos)
    val media = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, bos.toByteArray)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, true))))
    val row = Multimodal.audioFeatures(media, windowSamples = 1024)
      .select(col("audio"), col("decoded")).collect().head
    val (win, meta) =
      (row.getSeq[org.apache.spark.sql.Row](0),
        row.getAs[org.apache.spark.sql.Row](1))
    assert(meta != null,
      "24-bit WAV must decode for real — NULL means the RIFF header was " +
        "reinterpreted as PCM by the raw fallback")
    assert(meta.getInt(2) == 24 && meta.getInt(1) == 1 &&
      meta.getFloat(0) == 8000f)
    assert(win.size == 2)
    assert(win(0).getFloat(0) == 0f && win(0).getFloat(1) == 0f)
    assert(win(1).getFloat(0) > 0.9f && win(1).getFloat(1) == 1f,
      s"nyquist window rms=${win(1).getFloat(0)} zcr=${win(1).getFloat(1)}")
  }

  test("incremental MV maintenance == full recompute (A6 State/Merge)") {
    val events = Tables.events(spark, sf)
    val keys = Seq("event_type")
    def partial(df: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.partial(df, keys, "value", "event_id")
    // fold in three batches split by event_id ranges
    val b1 = events.filter(col("event_id") % 3 === 0)
    val b2 = events.filter(col("event_id") % 3 === 1)
    val b3 = events.filter(col("event_id") % 3 === 2)
    val mv = IncrementalAgg.merge(
      IncrementalAgg.merge(partial(b1), partial(b2), keys),
      partial(b3), keys)
    val inc = IncrementalAgg.finalize(mv, keys)
      .select(col("event_type"), col("n"), col("total"))
      .as[(String, Long, Double)].collect().toSet
    val full = IncrementalAgg.finalize(partial(events), keys)
      .select(col("event_type"), col("n"), col("total"))
      .as[(String, Long, Double)].collect().toSet
    assert(inc == full)
  }

  test("CentsSum aggregator is exact under repartitioning") {
    val df = Seq(0.1, 0.2, 0.3).toDF("x").repartition(7)
    val got = df.agg(IncrementalAgg.centsSum(col("x"))).head.getDouble(0)
    assert(got == 0.6)
  }

  test("nearDupStream: checkpoint restart restores bucket state, no re-emission") {
    import org.apache.spark.sql.streaming.Trigger
    val root = s"target/tmp/neardup_cp_${System.nanoTime()}"
    val cp = s"$root/checkpoint"
    val data = s"$root/data"
    val x = "the quick brown fox jumps over the lazy dog tonight"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val schema = Seq((1L, x, t0)).toDF("doc_id", "text", "ts").schema
    val sinkDir = s"$root/out"
    def drainOnce(): Set[(Long, Long)] = {
      val feed = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(data)
      val out = Streams.nearDupStream(feed, "doc_id", "text", "ts",
        "10 minutes", n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
      // file sink: the memory sink cannot recover from a checkpoint
      val q = out.writeStream.outputMode("append").format("parquet")
        .option("path", sinkDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sinkDir).select(col("doc_id"), col("dup_of"))
        .distinct().as[(Long, Long)].collect().toSet
    }
    Seq((1L, x, ts(0))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.parquet(s"$data/b=0")
    val first = drainOnce()
    assert(first.isEmpty, s"first arrival must not be flagged: $first")
    // second INVOCATION (fresh query, same checkpoint): only the new
    // file is read — the flag against doc 1 can only come from state
    // RESTORED from the checkpoint, and batch 0 is not re-emitted
    Seq((2L, x, ts(1))).toDF("doc_id", "text", "ts")
      .coalesce(1).write.parquet(s"$data/b=1")
    val second = drainOnce()
    assert(second == Set((2L, 1L)),
      s"restart must flag doc 2 against checkpoint-restored doc 1: $second")
  }

  test("scd2Stream: batch boundaries don't change the result; re-apply is a no-op") {
    import graft.operators.Scd
    val dim = (1L to 10L).map(k => (k, s"n$k", "A", true,
        java.sql.Date.valueOf("2020-01-01"), null: java.sql.Date))
      .toDF("bk", "name", "segment", "is_current", "start_date", "end_date")
    val s1 = (1L to 10L).filter(_ % 2 == 0)
      .map(k => (k, s"n$k", "B", java.sql.Date.valueOf("2024-06-01")))
      .toDF("bk", "name", "segment", "run_date")
    val s2 = (1L to 10L).filter(_ % 4 == 0)
      .map(k => (k, s"n$k", "C", java.sql.Date.valueOf("2024-07-01")))
      .toDF("bk", "name", "segment", "run_date")
    def drain(maxFiles: Option[Int]): Set[(Long, String, String, Boolean, String, String)] = {
      val root = s"target/tmp/scd2s_${System.nanoTime()}"
      s1.coalesce(1).write.parquet(s"$root/b=0")
      s2.coalesce(1).write.parquet(s"$root/b=1")
      new java.io.File(s"$root/b=0").listFiles()
        .foreach(_.setLastModified(1700000000000L))
      new java.io.File(s"$root/b=1").listFiles()
        .foreach(_.setLastModified(1700000100000L))
      val rdr = spark.readStream.schema(s1.schema)
        .option("recursiveFileLookup", "true")
      val feed = maxFiles.fold(rdr)(m =>
        rdr.option("maxFilesPerTrigger", m.toString)).parquet(root)
      graft.streaming.Streams
        .scd2Stream(spark, feed, dim, "bk", Seq("name", "segment"), "run_date")
        .select(col("bk"), col("name"), col("segment"), col("is_current"),
          col("start_date").cast("string"), col("end_date").cast("string"))
        .as[(Long, String, String, Boolean, String, String)].collect().toSet
    }
    val twoBatches = drain(Some(1))
    val oneBatch = drain(None) // both dates in a single batch
    assert(twoBatches == oneBatch, "per-date fold must erase batch boundaries")
    // the %4 keys carry A(closed) -> B(closed) -> C(current)
    assert(twoBatches.count(_._1 == 4L) == 3)
    assert(twoBatches((4L, "n4", "C", true, "2024-07-01", null)))
    // re-applying an absorbed snapshot changes nothing (at-least-once
    // replay safety): fold s1's date twice in batch form
    val once = Scd.scd2(dim, s1.drop("run_date"), "bk",
      Seq("name", "segment"), "2024-06-01")
    val twice = Scd.scd2(once, s1.drop("run_date"), "bk",
      Seq("name", "segment"), "2024-06-01")
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("nearDupStream: cross-batch first arrival, TTL expiry, bucket re-arm") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = s"target/tmp/neardup_${System.nanoTime()}"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val x = "the quick brown fox jumps over the lazy dog tonight"
    val y = "completely different content about shuffle partitions here"
    val z = "yet another unrelated filler document with many words inside"
    def write(i: Int, rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.parquet(s"$dir/b=$i")
      Thread.sleep(1100) // distinct mod times -> deterministic file order
    }
    // b0: doc 1 opens the x-buckets. b1: doc 2 (x, +1min) must flag
    // against the b0 state; doc 10 (y, +180min) drags the watermark to
    // +170min, far past the x-buckets' +11min timeout. b2: unrelated
    // doc forces a batch in which the expired x-bucket state times out
    // (keys with no arriving data are the ones timeout processing
    // visits). b3: doc 3 re-opens the buckets as the NEW first (no
    // flag), doc 4 flags against doc 3 — the re-armed state.
    write(0, Seq((1L, x, ts(0))))
    write(1, Seq((2L, x, ts(1)), (10L, y, ts(180))))
    write(2, Seq((99L, z, ts(181))))
    write(3, Seq((3L, x, ts(182)), (4L, x, ts(183))))
    val schema = Seq((1L, x, t0)).toDF("doc_id", "text", "ts").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val out = Streams.nearDupStream(stream, "doc_id", "text", "ts",
      "10 minutes", n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
    val name = s"neardup_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val flags = spark.table(name).select(col("doc_id"), col("dup_of"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(flags.contains((2L, 1L)), s"cross-batch flag missing: $flags")
    assert(!flags.exists(_._1 == 3L),
      s"doc 3 arrived after the TTL horizon and must be a NEW first: $flags")
    assert(flags.contains((4L, 3L)), s"re-armed bucket flag missing: $flags")
    assert(!flags.exists(f => f._1 == 10L || f._1 == 99L),
      s"unrelated docs must not be flagged: $flags")
  }

  test("nearDupStream: sub-n-token docs never flag (no empty-shingle buckets)") {
    import org.apache.spark.sql.streaming.Trigger
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val x = "the quick brown fox jumps over the lazy dog tonight"
    // three docs below the 3-token shingle order (incl. empty) — their
    // minima are all Long.MaxValue; without the skip they would share
    // every band bucket and flag each other with est_jaccard = 1.0
    val rows = Seq(
      (1L, "hello", ts(0)), (2L, "world", ts(1)), (3L, "", ts(2)),
      (4L, "two words", ts(3)),
      (5L, x, ts(4)), (6L, x, ts(5))) // a REAL dup pair still flags
    val dir = s"target/tmp/neardup_short_${System.nanoTime()}"
    rows.toDF("doc_id", "text", "ts").coalesce(1).write.parquet(dir)
    val feed = spark.readStream.schema(rows.toDF("doc_id", "text", "ts").schema)
      .option("recursiveFileLookup", "true").parquet(dir)
    val out = Streams.nearDupStream(feed, "doc_id", "text", "ts",
      "10 minutes", n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
    val name = s"neardup_short_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val flags = spark.table(name).select(col("doc_id"), col("dup_of"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(flags == Set((6L, 5L)),
      s"only the real dup pair may flag; short docs must be invisible: $flags")
  }

  test("scd2Stream: a 25-date backfill keeps the dimension's plan flat") {
    val dim = Seq((1L, "n1", "s0", true,
        java.sql.Date.valueOf("2020-01-01"), null: java.sql.Date))
      .toDF("bk", "name", "segment", "is_current", "start_date", "end_date")
    val dates = (1 to 25).map(d => f"2024-03-$d%02d")
    val staging = dates.zipWithIndex.map { case (d, i) =>
      (1L, "n1", s"s$i", java.sql.Date.valueOf(d))
    }.toDF("bk", "name", "segment", "run_date")
    val root = s"target/tmp/scd2s_long_${System.nanoTime()}"
    staging.coalesce(1).write.parquet(root)
    val feed = spark.readStream.schema(staging.schema)
      .option("recursiveFileLookup", "true").parquet(root)
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.size
    val trackedBefore = graft.CacheScope.trackedCount
    val out = graft.streaming.Streams
      .scd2Stream(spark, feed, dim, "bk", Seq("name", "segment"), "run_date")
    // per-fold localCheckpoint: the RETURNED dimension is a flat scan
    // of materialized blocks, not a 25-deep join/union chain — cache
    // eviction can never replay the whole backfill history
    val planLines =
      out.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(planLines <= 3,
      s"dimension plan must not grow with fold count ($planLines lines):\n" +
        out.queryExecution.optimizedPlan.numberedTreeString)
    // ...and neither may the checkpoint-captured CONSTRAINT set: the
    // union/filter constraint expressions double per fold if carried
    // through the checkpoint (measured 187 chars → 10M by fold 15,
    // then optimizer OOM) — localCheckpointTruncated captures none
    val constraintChars = out.queryExecution.optimizedPlan.constraints
      .map(_.toString.length).sum
    assert(constraintChars < 10000,
      s"constraint set must not compound across folds ($constraintChars chars)")
    // and the fold itself is right: the first snapshot (s0) matches the
    // initial dimension → unchanged; the other 24 each close a version
    // — 24 closed + 1 current
    val rows = out.select(col("segment"), col("is_current"))
      .as[(String, Boolean)].collect()
    assert(rows.length == 25)
    assert(rows.count(_._2) == 1 && rows.find(_._2).get._1 == "s24")
    // each fold frees the previous fold's checkpoint: only tracked
    // caches and the returned dimension's checkpoint remain
    val resident = sc.getPersistentRDDs.size - rddsBefore
    val allowed = graft.CacheScope.trackedCount - trackedBefore + 1
    assert(resident <= allowed,
      s"$resident RDDs resident after 25 folds, at most $allowed allowed")
  }

  test("localCheckpointTruncated: overlapping calls restore the session flag") {
    // ADVICE r11: a naive get/set/restore pair interleaved across two
    // threads can restore a stale value and leave constraint
    // propagation disabled for the REST OF THE SESSION. The nesting
    // counter makes the last leaving call restore the ambient value —
    // assert it under real overlap (Dag runs tasks concurrently on one
    // SparkSession, so this is a production interleaving).
    val key = "spark.sql.constraintPropagation.enabled"
    val ambient = spark.conf.get(key)
    spark.conf.set(key, "true")
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = (0 until 16).map { i =>
        Future {
          graft.CacheScope
            .localCheckpointTruncated(spark.range(100 + i).toDF("id"))
            .count()
        }
      }
      Await.result(Future.sequence(fs), 180.seconds)
      assert(spark.conf.get(key) == "true",
        "overlapping checkpoints must restore the ambient flag")
    } finally {
      pool.shutdown()
      spark.conf.set(key, ambient)
    }
  }

  test("localCheckpointTruncated: per-SESSION state across two sessions") {
    // ADVICE r12: the flag is per-SparkSession while a JVM-global
    // nesting pair would restore one session's saved value into the
    // other. Two sessions with DIFFERENT ambient values checkpoint
    // concurrently; each must get ITS OWN ambient back.
    val key = "spark.sql.constraintPropagation.enabled"
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    s1.conf.set(key, "true")
    s2.conf.set(key, "false")
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = (0 until 16).map { i =>
        val s = if (i % 2 == 0) s1 else s2
        Future {
          graft.CacheScope
            .localCheckpointTruncated(s.range(50 + i).toDF("id"))
            .count()
        }
      }
      Await.result(Future.sequence(fs), 180.seconds)
      assert(s1.conf.get(key) == "true",
        "session 1 must get its own ambient value back")
      assert(s2.conf.get(key) == "false",
        "session 2 must get its own ambient value back")
    } finally pool.shutdown()
  }

  test("scd2Stream: a regressed snapshot date fails loudly, not silently") {
    val dim = Seq((1L, "n1", "A", true,
        java.sql.Date.valueOf("2020-01-01"), null: java.sql.Date))
      .toDF("bk", "name", "segment", "is_current", "start_date", "end_date")
    val root = s"target/tmp/scd2s_regress_${System.nanoTime()}"
    Seq((1L, "n1", "B", java.sql.Date.valueOf("2024-07-01")))
      .toDF("bk", "name", "segment", "run_date")
      .coalesce(1).write.parquet(s"$root/b=0")
    Seq((1L, "n1", "C", java.sql.Date.valueOf("2024-06-01"))) // OLDER
      .toDF("bk", "name", "segment", "run_date")
      .coalesce(1).write.parquet(s"$root/b=1")
    new java.io.File(s"$root/b=0").listFiles()
      .foreach(_.setLastModified(1700000000000L))
    new java.io.File(s"$root/b=1").listFiles()
      .foreach(_.setLastModified(1700000100000L))
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$root/b=0").schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(root)
    val e = intercept[Exception] {
      graft.streaming.Streams.scd2Stream(
        spark, feed, dim, "bk", Seq("name", "segment"), "run_date")
    }
    var c: Throwable = e
    var found = false
    while (c != null && !found) {
      if (Option(c.getMessage).exists(_.contains("non-decreasing"))) found = true
      c = c.getCause
    }
    assert(found, s"expected the date-regression guard to fire: $e")
  }

  test("scd2Stream: a null snapshot date or a repeated (bk, date) row fails loudly") {
    val dim = Seq((1L, "n1", "A", true,
        java.sql.Date.valueOf("2020-01-01"), null: java.sql.Date))
      .toDF("bk", "name", "segment", "is_current", "start_date", "end_date")
    val d = java.sql.Date.valueOf("2024-06-01")
    def failure(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).mkString("\n")
    def drainFails(rows: Seq[(Long, String, String, java.sql.Date)]): String = {
      val root = s"target/tmp/scd2s_pre_${System.nanoTime()}"
      val staged = rows.toDF("bk", "name", "segment", "run_date")
      staged.coalesce(1).write.parquet(root)
      val feed = spark.readStream.schema(staged.schema)
        .option("recursiveFileLookup", "true").parquet(root)
      failure(intercept[Exception](graft.streaming.Streams.scd2Stream(
        spark, feed, dim, "bk", Seq("name", "segment"), "run_date")))
    }
    val nullDate = drainFails(Seq((1L, "n1", "B", d), (2L, "n2", "B", null)))
    assert(nullDate.contains("null bk or snapshot date"), nullDate)
    val repeated = drainFails(Seq((1L, "n1", "B", d), (1L, "n1", "C", d)))
    assert(repeated.contains("two staged rows for bk=1 on 2024-06-01"), repeated)
    // the one-date batch call shares the kernel and its check
    val batch = failure(intercept[Exception](graft.operators.Scd.scd2(dim,
      Seq((1L, "n1", "B"), (1L, "n1", "C")).toDF("bk", "name", "segment"),
      "bk", Seq("name", "segment"), "2024-06-01").collect()))
    assert(batch.contains("two staged rows for bk=1"), batch)
  }

  test("q_stream_scd2: a second call compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def call(): Unit =
      graft.tools.Exec.timed(spark)(graft.SparkEntry.queries("q_stream_scd2")(spark, sf))
    call()
    val before = METRIC_COMPILATION_TIME.getCount
    call()
    val added = METRIC_COMPILATION_TIME.getCount - before
    // a per-call literal or a per-call class loader reaching codegen
    // shows up here as recompiles of the same stages
    assert(added == 0, s"second call compiled $added generated classes")
  }

  test("clusterStream: 3-batch fold with a mid-stream restart equals batch incremental and from-scratch") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.operators.{Components, Dedup}

    val base = s"target/tmp/ccstream_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    (0 until 3).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(3L)) === r).coalesce(1)
        .write.parquet(s"$base/feed/f=$r")
    }
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/feed").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/feed")

    // run 1: crash in batch 1's at-least-once window — its state AND
    // commit marker are durable, Spark's checkpoint commit never runs
    val ex = intercept[StreamingQueryException] {
      Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4,
        labelsAsTable = false, // the rewrite option's own gate
        afterBatch = bid =>
          if (bid == 1) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    // run 2: same checkpoint + state — Spark replays batch 1, the fold
    // skips it wholesale via its marker, then batch 2 folds
    val streamed = Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4,
        labelsAsTable = false)
      .as[(Long, Long)].collect().toSet

    // from-scratch over the whole corpus
    val scratch = Components.connected(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .as[(Long, Long)].collect().toSet
    assert(streamed == scratch,
      "restarted 3-batch streamed fold must equal from-scratch clustering")

    // batch incremental over the same 3 splits
    val splits = (0 until 3).map(r =>
      docs.filter(pmod(col("doc_id"), lit(3L)) === r))
    var lbl = Components.connected(
      splits(0).select(col("doc_id")), "doc_id",
      Dedup.minhashLshPairs(splits(0), "doc_id", "text", 3, 0.8, 8, 4),
      "d1", "d2")
    (1 until 3).foreach { r =>
      val baseDf = splits.take(r).reduce(_ unionByName _)
      val delta = Dedup.lshPairsAgainstBase(
          Dedup.lshSide(baseDf, "doc_id", "text", 3, 8, 4),
          Dedup.lshSide(splits(r), "doc_id", "text", 3, 8, 4), 0.8)
        .select(col("d_new").as("d1"), col("d_base").as("d2"))
        .unionByName(Dedup
          .minhashLshPairs(splits(r), "doc_id", "text", 3, 0.8, 8, 4)
          .select(col("d1"), col("d2")))
      lbl = Components.connectedIncremental(lbl, "doc_id", "component",
        splits(r).select(col("doc_id")), delta, "d1", "d2")
    }
    val incr = lbl.as[(Long, Long)].collect().toSet
    assert(incr == scratch,
      "batch incremental fold over the same splits must equal from-scratch")
    graft.CacheScope.release()
  }

  test("lshPairsAgainstBase refuses sides built with different parameters") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val a = Dedup.lshSide(docs, "doc_id", "text", 3, 8, 4)
    val b = Dedup.lshSide(docs, "doc_id", "text", 3, 4, 8)
    val e = intercept[IllegalArgumentException] {
      Dedup.lshPairsAgainstBase(a, b, 0.8)
    }
    assert(e.getMessage.contains("parameter mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.lshDeltaPairs(a, b, 0.8)
    }
    assert(e2.getMessage.contains("lshDeltaPairs: parameter mismatch"))
    graft.CacheScope.release()
  }

  test("clusterStream: 20-batch drain — compaction bounds state, crash at the boundary, labels equal from-scratch") {
    // VERDICT r12 item 1: a fold must read O(1) directories, not
    // O(batches). 20 one-file micro-batches with compactEvery=5; the
    // crash lands on batch 9 so its REPLAY crosses a compaction
    // boundary (the restart's first fold both compacts {5..9} into
    // base v9 and skips batch 9 wholesale via its commit marker).
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.operators.{Components, Dedup}

    val base = s"target/tmp/ccstream20_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    (0 until 20).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(20L)) === r).coalesce(1)
        .write.parquet(s"$base/feed/f=$r")
    }
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/feed").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/feed")

    val ex = intercept[StreamingQueryException] {
      Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4, compactEvery = 5,
        labelsAsTable = false, // the rewrite option's own gate
        afterBatch = bid =>
          if (bid == 9) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    val streamed = Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4, compactEvery = 5,
        labelsAsTable = false)
      .as[(Long, Long)].collect().toSet

    val scratch = Components.connected(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .as[(Long, Long)].collect().toSet
    assert(streamed == scratch,
      "crash-restarted 20-batch streamed fold must equal from-scratch")

    // state boundedness on disk: compaction to v14 leaves batch sides
    // {15..19}, ONE base version, ONE compaction marker, ONE labeling,
    // and commit markers {14..19}
    def ls(d: String): Set[String] = {
      val f = new java.io.File(d)
      if (!f.exists()) Set.empty
      else f.listFiles().map(_.getName)
        .filterNot(_.startsWith(".")).toSet // local-FS .crc sidecars
    }
    assert(ls(s"$base/state/sh") == (15 to 19).map(i => s"b$i").toSet,
      s"batch sides past the compaction point only: ${ls(s"$base/state/sh")}")
    assert(ls(s"$base/state/base/sh") == Set("v14"),
      s"one consolidated base: ${ls(s"$base/state/base/sh")}")
    assert(ls(s"$base/state/compacts") == Set("14"))
    assert(ls(s"$base/state/labels") == Set("v19"),
      s"superseded labelings pruned: ${ls(s"$base/state/labels")}")
    assert(ls(s"$base/state/commits") == (14 to 19).map(_.toString).toSet,
      s"commit markers pruned below the compaction point: " +
        ls(s"$base/state/commits").toString)

    // per-fold read cost: every fold opened <= 1 + compactEvery
    // standing-side directories (the recorded stream_cc_dirs_b* keys)
    val dirCounts = graft.tools.RunMetrics.snapshot
      .collect { case (k, v) if k.startsWith("stream_cc_dirs_b") => k -> v }
    assert(dirCounts.nonEmpty)
    assert(dirCounts.values.max <= 6.0,
      s"a fold opened more than 1+compactEvery directories: $dirCounts")
    graft.CacheScope.release()
  }

  test("clusterStream labelsAsTable: delta-MERGEd labeling with crash-restart equals from-scratch") {
    // the 100-TB persistence form: the standing labeling lives in a
    // graft transactional table; each fold MERGEs only the rows whose
    // label changes (connectedIncrementalDelta), so the per-cycle
    // labels write is ∝ delta, never ∝ corpus. Crash at batch 7 lands
    // the restart across a compaction boundary (compactEvery=4 —
    // which, in this mode, also materializes the table's delete debt);
    // replay idempotence rides the table's own txn watermark.
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.operators.{Components, Dedup}

    val base = s"target/tmp/ccstreamtbl_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    (0 until 12).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(12L)) === r).coalesce(1)
        .write.parquet(s"$base/feed/f=$r")
    }
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/feed").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/feed")

    val ex = intercept[StreamingQueryException] {
      Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4, compactEvery = 4,
        labelsAsTable = true,
        afterBatch = bid =>
          if (bid == 7) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    val streamed = Streams.clusterStream(stream, "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4, compactEvery = 4,
        labelsAsTable = true)
      .as[(Long, Long)].collect()
    val scratch = Components.connected(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .as[(Long, Long)].collect().toSet
    assert(streamed.length == streamed.toSet.size,
      "the labeling table must hold exactly one row per document")
    assert(streamed.toSet == scratch,
      "table-backed crash-restarted drain must equal from-scratch")
    // no whole-corpus labels/v* rewrites exist in this mode
    assert(!new java.io.File(s"$base/state/labels").exists(),
      "labelsAsTable must not write per-batch labeling parquet")
    // r15 sidecar contract: the TABLE holds exactly the docs merged at
    // the last compaction (batches 0..7 — compaction fires at the
    // start of batch 4 covering {0..3} and on the post-crash replay of
    // batch 7 covering {4..7}); batches 8..11 live only in the delta
    // sidecar until the next compaction. The table is untouched
    // between compactions — the flat-fold-cost property.
    val snap = graft.sources.TxTable.currentSnapshot(
      spark, s"$base/state/labels_tbl").get
    val liveRows = snap.entries.map(e =>
      graft.sources.FileStats.decode(e.stats).rows).sum -
      snap.dvs.map(_.rows).sum
    val mergedDocs = docs
      .filter(pmod(col("doc_id"), lit(12L)) <= 7).count()
    assert(liveRows == mergedDocs,
      s"labels table must hold one live row per doc merged at the " +
        s"last compaction ($mergedDocs), got $liveRows")
    def lsDelta: Set[String] = {
      val f = new java.io.File(s"$base/state/labels_delta")
      if (!f.exists()) Set.empty
      else f.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet
    }
    assert(lsDelta == (8 to 11).map(i => s"b$i").toSet,
      s"sidecar must hold exactly the batches past the compaction " +
        s"point: $lsDelta")
    // persistence boundedness in BATCH COUNT (VERDICT r13 item 2): the
    // compaction cadence vacuums superseded data files and prunes
    // manifest history, so the version count is bounded by folds since
    // the last compaction — never by drain length
    val tbl = s"$base/state/labels_tbl"
    val vs = graft.sources.TxTable.versions(spark, tbl)
    assert(vs.size <= 2 + 2 * 4,
      s"manifest history must stay bounded by the compaction cadence, " +
        s"got ${vs.size} versions: $vs")
    // vacuum left no unreachable data files behind
    assert(graft.sources.TxTable.vacuum(spark, tbl, vs.min) == 0,
      "compaction-cadence vacuum must leave nothing to reclaim below " +
        "the retained window")
    // per-fold labels WRITE bytes are recorded (the ∝-delta evidence
    // the rehearsal's drain artifact carries)
    val bytes = graft.tools.RunMetrics.snapshot
      .collect { case (k, v) if k.startsWith("stream_cc_bytes_b") => k -> v }
    assert(bytes.nonEmpty && bytes.values.forall(_ > 0.0),
      s"every fold must record its labels write bytes: $bytes")
    graft.CacheScope.release()
  }

  test("clusterStream: an empty micro-batch burns no marker and no state") {
    import graft.operators.{Components, Dedup}
    val base = s"target/tmp/ccstream_empty_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    // batch 1 is a zero-row file between two real slices; explicit
    // mod-times pin the file -> batch order
    Seq(pmod(col("doc_id"), lit(2L)) === 0, lit(false),
        pmod(col("doc_id"), lit(2L)) === 1).zipWithIndex.foreach {
      case (keep, r) =>
        docs.filter(keep).coalesce(1).write.parquet(s"$base/feed/f=$r")
        new java.io.File(s"$base/feed/f=$r").listFiles()
          .foreach(_.setLastModified(1600000000000L + r * 60000L))
    }
    val streamed = Streams.clusterStream(
        Streams.fileFeed(spark, s"$base/feed"), "doc_id", "text",
        s"$base/state", s"$base/ckpt", 3, 0.8, 8, 4)
      .as[(Long, Long)].collect().toSet
    def exists(p: String) = new java.io.File(s"$base/state/$p").exists()
    assert(!exists("commits/1") && !exists("sh/b1") &&
      !exists("labels_delta/b1"),
      "the empty batch must write neither a commit marker nor state")
    assert(Seq("commits/0", "commits/2", "sh/b2", "labels_delta/b2")
      .forall(exists), "the batches after the empty one must still fold")
    val scratch = Components.connected(
        docs.select(col("doc_id")), "doc_id",
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8, 8, 4),
        "d1", "d2")
      .as[(Long, Long)].collect().toSet
    assert(streamed == scratch,
      "a drain with an empty batch must equal from-scratch clustering")
    graft.CacheScope.release()
  }

  test("streaming DSIR: an empty micro-batch commits AND refreshes on cadence") {
    val base = s"target/tmp/dsirstream_empty_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf).select(
      col("doc_id"), col("text"), (col("lang") === "en").as("tgt"))
    docs.filter(pmod(col("doc_id"), lit(2L)) === 0).coalesce(1)
      .write.parquet(s"$base/feed/f=0")
    Thread.sleep(1100)
    docs.filter(pmod(col("doc_id"), lit(2L)) === 1).coalesce(1)
      .write.parquet(s"$base/feed/f=1")
    Thread.sleep(1100)
    // an empty slice landing exactly ON a refresh point (batch 2,
    // refreshEvery=2): ADVICE r17 — the refresh must still happen
    // (from the unchanged corpus), keeping the fold->model mapping a
    // pure function of the batch id
    docs.filter(lit(false)).coalesce(1)
      .write.parquet(s"$base/feed/f=2")
    Thread.sleep(1100)
    // a second consecutive empty slice (batch 3, off-cadence): no
    // refresh, no scores, but the batch still commits
    docs.filter(lit(false)).coalesce(1)
      .write.parquet(s"$base/feed/f=3")
    Thread.sleep(1100)
    docs.filter(pmod(col("doc_id"), lit(2L)) === 1).coalesce(1)
      .write.parquet(s"$base/feed/f=4")
    val out = Streams.dsirStream(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed"),
      "doc_id", "text", "tgt", s"$base/state", s"$base/ckpt",
      refreshEvery = 2)
    // empty batches fold to no scores; every scoreable doc from the
    // real batches is scored (batch 4 re-scores fold-1's docs — same
    // ids, later fold), and the refresh cadence is UNBROKEN: models
    // exist exactly at v0/v2/v4 even though batches 2 and 3 were empty
    def dirIds(d: String): Set[Long] = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fsn = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fsn.exists(p)) Set.empty
      else fsn.listStatus(p).map(_.getPath.getName.drop(1).toLong).toSet
    }
    assert(dirIds(s"$base/state/model") == Set(0L, 2L, 4L),
      "empty batches must not shift the refresh cadence")
    val n = out.select("doc_id").distinct().count()
    val expect = graft.operators.Dsir
      .importanceWeights(docs, "doc_id", "text", col("tgt")).count()
    assert(n == expect, s"scored $n distinct of $expect scoreable docs")
    // the model refreshed at the empty batch equals the one the
    // corpus-so-far implies: batch 4 must score against model_v=4
    // (trained on folds 0..4 = the whole corpus), batch 1 against v0
    val mv = out.select("fold", "model_v").distinct()
      .as[(Long, Long)].collect().toMap
    assert(mv(1L) == 0L && mv(4L) == 4L,
      s"fold->model mapping must survive empty batches: $mv")
    graft.CacheScope.release()
  }

  test("streaming DSIR: frozen-model scoring, refresh cadence, crash-restart bit-equality") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    graft.tools.RunMetrics.reset() // the refresh-bytes asserts below
    // must see THIS drain's records, not an earlier dsir test's
    val base = s"target/tmp/dsirstream_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf).select(
      col("doc_id"), col("text"), (col("lang") === "en").as("tgt"))
    // 6 slices -> 6 micro-batches (maxFilesPerTrigger=1); distinct mod
    // times keep the file->batch order deterministic across runs
    (0 until 6).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(6L)) === r).coalesce(1)
        .write.parquet(s"$base/feed/f=$r")
      if (r < 5) Thread.sleep(1100)
    }
    val schema = docs.schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
    def collectScores(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_feats", "weight", "model_v", "fold")
        .as[(Long, Long, Double, Long, Long)].collect().sortBy(_._1)

    // reference: uninterrupted drain, model refresh every 2 batches
    val ref = collectScores(Streams.dsirStream(
      stream, "doc_id", "text", "tgt",
      s"$base/state_ref", s"$base/ckpt_ref", refreshEvery = 2))
    assert(ref.nonEmpty)
    // refresh cadence: models exist exactly at v0/v2/v4
    def dirIds(d: String): Set[Long] = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName.drop(1).toLong).toSet
    }
    assert(dirIds(s"$base/state_ref/model") == Set(0L, 2L, 4L),
      "model must refresh exactly on the cadence")
    // frozen semantics: each fold scored against the newest model at
    // or below it
    assert(ref.forall { case (_, _, _, mv, fold) => mv == fold / 2 * 2 },
      s"fold->model mapping broken: ${ref.map(r => (r._5, r._4)).distinct.toSeq}")
    // refresh consolidates by MANIFEST, not by rewrite (VERDICT r17
    // item 1): the corpus lives once, as per-fold slice files inside
    // the TxTable — no corpus_base copy directory exists at all, and
    // each refresh's recorded write bytes are model+manifest-sized,
    // an order under the corpus it READ
    assert(!new java.io.File(s"$base/state_ref/corpus_base").exists() &&
      !new java.io.File(s"$base/state_ref/corpus").exists(),
      "manifest-consolidated refresh must not copy corpus bytes")
    val corpusTbl = s"$base/state_ref/corpus_tbl"
    val snap = graft.sources.TxTable.currentSnapshot(spark, corpusTbl).get
    val corpusBytes = snap.entries.map(_.size).sum
    val tblRows = graft.sources.TxTable.read(spark, corpusTbl).count()
    assert(tblRows == docs.count(),
      s"corpus table must hold every fed row exactly once, got $tblRows")
    val refreshBytes = graft.tools.RunMetrics.snapshot.collect {
      case (k, v) if k.startsWith("stream_dsir_refresh_bytes_v") => k -> v }
    assert(refreshBytes.keySet == Set(0L, 2L, 4L)
        .map(v => s"stream_dsir_refresh_bytes_v$v"),
      s"every refresh must record its write bytes: ${refreshBytes.keySet}")
    assert(refreshBytes.values.forall(b => b > 0 && b < corpusBytes / 4.0),
      s"refresh writes must be model-sized, not corpus-sized: " +
        s"$refreshBytes vs corpus $corpusBytes")
    // manifest history is pruned at the refresh cadence — bounded by
    // folds since the last refresh, never by drain length
    assert(graft.sources.TxTable.versions(spark, corpusTbl).size
        <= 1 + 2 * 2,
      "corpus-table manifest history must stay bounded by the cadence")

    // scores equal the batch operator replayed against the frozen
    // model parquet (the frozen-model contract, checked end to end)
    val m2 = spark.read.parquet(s"$base/state_ref/model/v2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b3 = docs.filter(pmod(col("doc_id"), lit(6L)) === 3)
    val expect3 = graft.operators.Dsir
      .scoreAgainst(b3, "doc_id", "text", m2)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val got3 = ref.filter(_._5 == 3L).map(r => (r._1, r._2, r._3))
    assert(got3.sameElements(expect3),
      "fold-3 scores must equal the batch operator against the v2 model")

    // crash at batch 3 (after its commit), restart on the same
    // checkpoint + state: the drain must finish and produce
    // bit-identical scores
    val ex = intercept[StreamingQueryException] {
      Streams.dsirStream(stream, "doc_id", "text", "tgt",
        s"$base/state_c", s"$base/ckpt_c", refreshEvery = 2,
        afterBatch = bid =>
          if (bid == 3) throw new RuntimeException("injected crash"))
    }
    assert(ex.getMessage.contains("injected crash"))
    val resumed = collectScores(Streams.dsirStream(
      stream, "doc_id", "text", "tgt",
      s"$base/state_c", s"$base/ckpt_c", refreshEvery = 2))
    assert(resumed.sameElements(ref),
      "restarted drain must equal the uninterrupted one bit-for-bit")
    graft.CacheScope.release()
  }

  test("streaming DSIR: crash MID-REFRESH (after model write, before marker) replays bit-identically") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val base = s"target/tmp/dsirstream_midref_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf).select(
      col("doc_id"), col("text"), (col("lang") === "en").as("tgt"))
    (0 until 4).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(4L)) === r).coalesce(1)
        .write.parquet(s"$base/feed/f=$r")
      if (r < 3) Thread.sleep(1100)
    }
    val schema = docs.schema
    def stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
    def collectScores(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_feats", "weight", "model_v", "fold")
        .as[(Long, Long, Double, Long, Long)].collect().sortBy(r => (r._1, r._5))
    // reference: uninterrupted drain, refresh at v0 and v2
    val ref = collectScores(Streams.dsirStream(
      stream, "doc_id", "text", "tgt",
      s"$base/state_ref", s"$base/ckpt_ref", refreshEvery = 2))
    // crash INSIDE batch 2's refresh: the v2 model parquet is already
    // on disk, the commit marker is not — the sharpest replay window
    // (VERDICT r17 item 1's done-criterion): the replayed fold must
    // re-land its slice partition idempotently and rebuild the SAME v2
    // model from the table before any batch scores against it
    Streams.dsirAfterModelWriteHook =
      bid => if (bid == 2) throw new RuntimeException("injected mid-refresh crash")
    try {
      val ex = intercept[StreamingQueryException] {
        Streams.dsirStream(stream, "doc_id", "text", "tgt",
          s"$base/state_c", s"$base/ckpt_c", refreshEvery = 2)
      }
      assert(ex.getMessage.contains("injected mid-refresh crash"))
    } finally Streams.dsirAfterModelWriteHook = _ => ()
    // pre-crash state: model v2 exists, batch-2 marker does not
    assert(new java.io.File(s"$base/state_c/model/v2").exists(),
      "the crash must land after the model write")
    assert(!new java.io.File(s"$base/state_c/commits/2").exists(),
      "the crash must land before the commit marker")
    val resumed = collectScores(Streams.dsirStream(
      stream, "doc_id", "text", "tgt",
      s"$base/state_c", s"$base/ckpt_c", refreshEvery = 2))
    assert(resumed.sameElements(ref),
      "mid-refresh-crashed drain must equal the uninterrupted one bit-for-bit")
    // the replayed fold replaced its own partition: the corpus table
    // holds every fed row exactly once despite the double write
    val tblRows = graft.sources.TxTable
      .read(spark, s"$base/state_c/corpus_tbl").count()
    assert(tblRows == docs.count(),
      s"replayed fold must not double-append its slice, got $tblRows")
    graft.CacheScope.release()
  }
}
