package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming surface (SURVEY C9): the continuous variant of
  * the CDC/event pipeline. The batch queries define the semantics; the
  * streaming forms here must produce the SAME results when a bounded
  * feed is drained — which is exactly how the spec and the oracle
  * check them (`complete`-mode aggregate over the events parquet ≡ the
  * batch hourly rollup).
  *
  * Every folding operator shares one micro-batch protocol:
  *   - [[fileFeed]] replays a directory of files as a bounded stream,
  *     one file per micro-batch;
  *   - `drain` is the one `foreachBatch` sink: append mode,
  *     `Trigger.AvailableNow`, the operator's checkpoint when it has
  *     one, then per batch the fold followed by the caller's
  *     `afterBatch(id)`. The checkpoint gives AT-LEAST-ONCE delivery:
  *     the offsets WAL is written before a batch runs and the commit
  *     log after `afterBatch` returns, so a crash in between replays
  *     the batch on restart and no batch is ever lost;
  *   - `commitFold` makes a stateful fold idempotent under that replay:
  *     a batch whose `commits/<id>` marker exists is skipped wholesale;
  *     otherwise the fold runs, is timed, releases its cached blocks
  *     ([[graft.CacheScope.release]]) and writes its marker LAST, so a
  *     batch's state is complete iff its marker exists.
  */
object Streams {

  /** The events parquet as a bounded stream (schema must be supplied —
    * streaming sources cannot infer). `ts` normalizes exactly as the
    * batch reader does ([[graft.Tables.normalizeTs]]): nanos-long under
    * the legacy flag, or TIMESTAMP_NTZ micros, → session-zoned
    * TimestampType.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream sources take a DIRECTORY; select the single table
    // file via glob filter
    graft.Tables.normalizeTs(spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Every parquet file under `dir` (recursively) as a bounded stream
    * of one file per micro-batch. The schema is the files' own,
    * inferred by a batch read of the same tree (streaming sources
    * cannot infer); recursive lookup disables partition inference, so
    * `k=v` directory names add no column.
    */
  def fileFeed(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(dir).schema
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** Hourly tumbling-window aggregate, streaming form of
    * `q_events_hourly`: window(ts, 1 hour) × event_type with exact
    * cents arithmetic.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_ts"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("total_value"))

  /** Drain a bounded stream through a complete-mode memory sink and
    * return the final result — the harness for checking streaming ≡
    * batch semantics.
    */
  def drainComplete(spark: SparkSession, agg: DataFrame, name: String): DataFrame = {
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Drain `feed` to its end through `fold(batch, id)`, then
    * `afterBatch(id)`, per micro-batch (see the object doc). Without a
    * checkpoint Spark uses a throwaway one: the drain cannot resume.
    */
  private def drain(
      feed: DataFrame, checkpoint: Option[String] = None,
      afterBatch: Long => Unit = _ => ())(
      fold: (DataFrame, Long) => Unit): Unit = {
    val w = feed.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId)
        afterBatch(batchId)
      }
      .start()
      .awaitTermination()
  }

  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ids of the numerically named children of `dir` (`<id>`, `b<id>`,
    * `v<id>`); empty when `dir` does not exist.
    */
  private def listIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName.dropWhile(!_.isDigit).toLong)
  }

  /** Delete the children `<prefix><id>` of `dir` whose id is `drop`ped. */
  private def sweep(spark: SparkSession, dir: String, prefix: String)(
      drop: Long => Boolean): Unit =
    listIds(spark, dir).filter(drop).foreach(i =>
      fsOf(spark, dir).delete(new org.apache.hadoop.fs.Path(s"$dir/$prefix$i"), true))

  private def committedBatches(spark: SparkSession, stateDir: String): Seq[Long] =
    listIds(spark, s"$stateDir/commits")

  /** The marker-last commit of a stateful fold (see the object doc).
    * `body` gets the committed batch ids and returns whether to commit
    * this batch; its wall time, release included, is recorded as
    * `<foldKey>_b<id>`. Returns whether the marker was written.
    */
  private def commitFold(
      spark: SparkSession, stateDir: String, batchId: Long, foldKey: String)(
      body: Seq[Long] => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val done = committedBatches(spark, stateDir)
    if (done.contains(batchId)) return false // committed replay
    val commit = body(done)
    graft.CacheScope.release()
    if (commit)
      fsOf(spark, stateDir).create(
        new org.apache.hadoop.fs.Path(s"$stateDir/commits/$batchId"), true).close()
    graft.tools.RunMetrics.put(s"${foldKey}_b$batchId", (System.nanoTime() - t0) / 1e9)
    commit
  }

  /** Watermarked APPEND-mode hourly aggregate — the production
    * continuous form: a window is emitted exactly once, when the
    * event-time watermark (max event time − `delay`) passes its end;
    * later-arriving data beyond the delay is dropped. The spec drives
    * this with a two-file feed (maxFilesPerTrigger=1) so the watermark
    * genuinely advances between micro-batches.
    */
  def hourlyAggAppend(events: DataFrame, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      // group on the raw window() column — extracting .start before
      // the aggregate severs watermark propagation and append mode is
      // rejected
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("total_value"))
      .select(
        col("window.start").as("hour_ts"), col("event_type"),
        col("n"), col("total_value"))

  /** Custom keyed state (SURVEY §2.9 / §2.11): per-user running
    * (count, exact-cents total) maintained in `GroupState` across
    * micro-batches via flatMapGroupsWithState — the engine's
    * `mapGroupsWithState` surface. Emits the updated totals per user
    * per batch; on a drained bounded feed the final emission per user
    * equals the batch aggregate (spec-checked).
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
          state.update((n, cents))
          Iterator.single((uid, n, cents / 100.0))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Streaming sessionization: watermarked `session_window` (30-min
    * inactivity gap by default) — a session closes and is emitted in
    * append mode once the watermark passes its end; state per open
    * session only, dropped at emission. The streaming twin of the
    * batch `q_sessionize` gaps-and-islands query.
    */
  def sessionizeStream(events: DataFrame, gap: String, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Stream-stream inner join with event-time bounds: each side
    * watermarked, the join condition carrying an explicit time range
    * (right.ts in [left.ts, left.ts + window]) so Spark can expire
    * buffered state once the watermark passes — the only way a
    * stream-stream join runs forever on bounded memory. Unbounded
    * stream-stream joins (no time constraint) buffer both sides
    * forever and are rejected here by construction.
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, window: String, delay: String): DataFrame = {
    val l = left.withWatermark("ts", delay)
    val r = right
      .withColumnRenamed(keyCol, s"__r_$keyCol")
      .withColumnRenamed("ts", "__r_ts")
      .withWatermark("__r_ts", delay)
    l.join(r,
      col(keyCol) === col(s"__r_$keyCol") &&
        col("__r_ts") >= col("ts") &&
        col("__r_ts") <= col("ts") + expr(s"INTERVAL $window"))
  }

  /** Streaming exact dedup (the training-pipeline dedup operator in
    * continuous form): keep the FIRST row per key, with state bounded
    * by the event-time watermark — a key's state is dropped once the
    * watermark passes its event time plus the delay, so the operator
    * runs forever on bounded memory (the property that matters on an
    * unbounded 100 TB feed; an unwatermarked dropDuplicates would
    * accumulate state without bound). Duplicates arriving within the
    * watermark window are suppressed exactly.
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup flagging — the continuous form of the
    * MinHash-LSH ingest dedup ([[graft.operators.Dedup.lshDedupAgainstBase]]):
    * each document's signature is banded, and per (band, minima-vector)
    * bucket the FIRST arrival (event-time order, doc id tie-break) is
    * held in `GroupState`; every later arrival in an occupied bucket
    * is emitted as `(doc_id, dup_of = the bucket's first doc,
    * est_jaccard)` when the signature agreement is ≥ tau. The
    * similarity estimate is the fraction of agreeing minhash
    * components — the unbiased streaming stand-in for true Jaccard
    * (the batch path verifies with exact sets; a stream cannot retain
    * every shingle set, so it verifies against the bounded-width
    * signature instead — numPerms longs per OCCUPIED bucket, the
    * state bound that survives an unbounded feed).
    *
    * State TTL: `EventTimeTimeout` at (bucket's last event time +
    * `delay`) — once the watermark passes it the bucket forgets its
    * first arrival, exactly [[dedupStream]]'s horizon semantics, so
    * state is bounded by the dup-detection window, not corpus
    * lifetime. Everything is deterministic for a bounded ordered
    * feed: per-group rows are sorted by (ts, id), the hash family is
    * the portable seeded one, so the full derivation (banding, first
    * arrival, agreement count) replays in the SQL oracle.
    */
  def nearDupStream(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      delay: String, n: Int, tau: Double,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val numPerms = bands * rowsPerBand
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, s"month-granularity delay unsupported: $delay")
    val delayMs = iv.days * 86400000L + iv.microseconds / 1000L
    val sh = array_distinct(graft.functions.Text.wordShingles(
      graft.functions.Text.tokens(col(textCol)), n))
    // Band via a TYPED flatMap, not a transform/posexplode over the
    // sig column: a streaming plan cannot persist the signature the
    // way the batch path does, and CollapseProject would inline the
    // whole minhash expression into the band lambda — re-evaluating
    // it per band (measured ~5x the query). The encoder boundary
    // materializes each signature exactly once; banding is then cheap
    // Scala slicing.
    val banded = docs
      // single-file stream sources scan as ONE partition, which would
      // run the whole tokenize+shingle+minhash single-threaded — the
      // same reason the batch path's shingles() repartitions first
      // (hashed by the unique id: skips sort-before-repartition)
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).cast("timestamp").as("ts"),
        graft.operators.Dedup.minhashSignature(sh, numPerms).as("sig"))
      .as[(Long, java.sql.Timestamp, Seq[Long])]
      .flatMap { case (id, t, sig) =>
        // A doc with < n tokens has an EMPTY shingle set; its minima
        // are all Long.MaxValue (no affine value reaches 2^63−1, so
        // sig(0) == MaxValue ⇔ empty set). Skipping here mirrors the
        // batch paths' size(sh) > 0 filter — without it every short
        // doc shares every band bucket and they all flag each other
        // with est_jaccard = 1.0 (false-positive data loss).
        if (sig == null || sig.length != numPerms ||
            sig.headOption.contains(Long.MaxValue)) Iterator.empty
        else (0 until bands).iterator.map { b =>
          (id, t, sig, b,
            sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand))
        }
      }
      .toDF("doc_id", "ts", "sig", "band", "bandkey")
      // the watermark is declared on the PROJECTED ts: event-time
      // metadata does not survive a cast/re-derivation, so declaring
      // it upstream would leave the stateful operator unwatermarked
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp, Seq[Long], Int, Seq[Long])]
    banded
      .groupByKey { case (_, _, _, band, key) => (band, key) }
      .flatMapGroupsWithState[
          (Long, Long, Seq[Long]),           // firstId, firstTsMs, firstSig
          (Long, Long, Double)](             // doc_id, dup_of, est_jaccard
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Seq[Long]),
         rows: Iterator[(Long, java.sql.Timestamp, Seq[Long], Int, Seq[Long])],
         state: GroupState[(Long, Long, Seq[Long])]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            if (sorted.isEmpty) Iterator.empty
            else {
              var (firstId, lastTs, firstSig) = state.getOption
                .getOrElse((-1L, 0L, Seq.empty[Long]))
              val out = Seq.newBuilder[(Long, Long, Double)]
              sorted.foreach { case (id, ts, sig, _, _) =>
                if (firstId < 0) { firstId = id; firstSig = sig }
                else if (id != firstId) {
                  val agree = firstSig.iterator.zip(sig.iterator)
                    .count { case (a, b) => a == b }
                  val est = agree.toDouble / numPerms
                  if (est >= tau) out += ((id, firstId, est))
                }
                lastTs = math.max(lastTs, ts.getTime)
              }
              state.update((firstId, lastTs, firstSig))
              state.setTimeoutTimestamp(lastTs + delayMs)
              out.result().iterator
            }
          }
      }
      .toDF("doc_id", "dup_of", "est_jaccard")
    // NOTE: several bands can report the identical (doc, first) pair —
    // deliberately NOT deduplicated here: a streaming dropDuplicates
    // would add a second unbounded state store. Callers dedup after
    // draining (batch dropDuplicates on the sink table).
  }

  /** Streaming SCD2 dimension maintenance — the continuous form of
    * the warehouse-load SCD ([[graft.operators.Scd.scd2]] / q_scd2;
    * the reference's SCD wizard + CDC-fed dimension load). The feed
    * carries dated staging snapshots (`dateCol`); each micro-batch is
    * folded in ONE set-based pass with its dates as data
    * ([[graft.operators.Scd.scd2Dated]]), equal to applying its
    * snapshots one date at a time in ascending order — so draining a
    * feed equals applying the same snapshots in date order in batch,
    * and a batch boundary can fall anywhere BETWEEN dates without
    * changing the result (within-batch disorder is sorted away).
    *
    * Contract: dates must be non-decreasing ACROSS batches (a
    * snapshot feed — each file/batch holds one or more complete dated
    * snapshots) — ENFORCED on the fold's own pass (an observed min/max
    * date): a feed that delivers an older snapshot after a newer one
    * fails loudly instead of silently folding in
    * overlapping/regressed version intervals. Re-delivery of the SAME
    * date is harmless and allowed: re-applying a snapshot to a
    * dimension that already absorbed it changes nothing (unchanged
    * rows pass through, so foreachBatch's at-least-once replay
    * composes). Each fold is pinned with `localCheckpoint(true)` (the
    * [[graft.operators.Components]] fixpoint idiom): the plan of batch
    * N is a flat scan of batch N−1's materialized blocks, NOT a chain
    * referencing every earlier fold — so a long backfill neither grows
    * the plan unboundedly nor replays the whole history on cache
    * eviction. No action runs on the batch's cloned session, whose
    * fresh class loader would recompile every generated class. A
    * production deployment would hold the dimension in the
    * transactional table and MERGE, as the batch CDC paths do.
    */
  def scd2Stream(
      spark: SparkSession, staging: DataFrame, dimInit: DataFrame,
      bk: String, attrs: Seq[String], dateCol: String): DataFrame = {
    // Bound the checkpointed partition count per fold: each scd2 pass
    // UNIONs the history and version legs, so without this the fold-N
    // dimension carries O(N · shuffle.partitions) partitions and a
    // long backfill degenerates into a quadratic task storm. coalesce
    // is NARROW (merges the union legs, no extra shuffle); the next
    // fold's window reshuffles on the business key regardless.
    val par = spark.sparkContext.defaultParallelism
    var dim = graft.CacheScope.localCheckpointTruncated(dimInit.coalesce(par))
    // ISO yyyy-MM-dd compares correctly as a string; empty = no fold yet
    var lastApplied = ""
    drain(staging) { (batch, _) =>
      val dates = org.apache.spark.sql.Observation()
      // eager localCheckpoint: materializes AND truncates lineage
      // (constraint-truncated — see localCheckpointTruncated: the
      // captured constraint set would otherwise DOUBLE per fold)
      val next = graft.CacheScope.localCheckpointTruncated(graft.operators.Scd
        .scd2Dated(dim, batch, bk, attrs, col(dateCol), Some(dates)).coalesce(par))
      val seen = graft.operators.Audit.awaitObserved(dates)
      Option(seen.get(0)).foreach { lo => // null: an empty batch
        require(lo.toString >= lastApplied,
          s"scd2Stream: snapshot date $lo arrived after $lastApplied — " +
            "dates must be non-decreasing across batches (regressed " +
            "feed would corrupt the dimension's version intervals)")
        lastApplied = seen.get(1).toString
      }
      // the previous fold is unreachable now; free its blocks
      graft.CacheScope.unpersistCheckpoint(dim)
      dim = next
    }
    dim
  }

  /** Streaming CDC upsert: drain the change feed in micro-batches,
    * folding each batch into the target with the idempotent
    * `Cdc.apply` (at-least-once safe). Returns the final target state.
    * Batch-boundary correctness relies on `Cdc.apply`'s composability:
    * (a,b] then (b,c] ≡ (a,c].
    */
  def cdcUpsertStream(
      spark: SparkSession, feed: DataFrame,
      keyCols: Seq[String], dataCols: Seq[String]): DataFrame = {
    // The empty initial target derives from the first BATCH (a
    // streaming DataFrame cannot seed a batch plan).
    var target: DataFrame = null
    drain(feed) { (batch, _) =>
      val base =
        if (target == null) Cdc.emptyTarget(batch, keyCols, dataCols)
        else target
      val next = Cdc.apply(base, batch, keyCols, dataCols)
        .persist() // pin the folded state; next fold scans it
      next.count() // materialize before releasing the previous state
      if (target != null) target.unpersist()
      target = next
    }
    if (target == null)
      Cdc.emptyTarget(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          feed.schema), keyCols, dataCols)
    else target
  }

  /** Streaming TRANSACTIONAL CDC apply: drain the change feed in
    * micro-batches, folding each into a [[graft.sources.TxTable]] via
    * [[Cdc.applyTx]] — the continuous form of the MERGE target
    * (SURVEY C9 × the transactional apply; reference:
    * Integration/SSIS/Practice/004 CDC.md:354-362 for the MERGE
    * semantics, 226-241 for the at-least-once watermark contract).
    *
    * Replay contract: a crash between applyTx's manifest commit and
    * Spark's checkpoint commit REPLAYS that batch (at-least-once, see
    * the object doc), so end-to-end correctness leans on applyTx's
    * idempotence (latest-per-key LSN reconcile: re-applying a range
    * leaves row content unchanged, spec-proven) — the same contract
    * the batch protocol's C5/C6 state machine documents.
    */
  def cdcApplyTxStream(
      spark: SparkSession,
      feed: DataFrame,
      txRoot: String,
      keyCols: Seq[String],
      dataCols: Seq[String],
      partCol: String,
      partOf: DataFrame => org.apache.spark.sql.Column,
      checkpoint: String,
      lsnCol: String = "lsn",
      opCol: String = "op",
      afterBatch: Long => Unit = _ => ()): Unit = {
    drain(feed, Some(checkpoint), afterBatch) { (batch, _) =>
      // an empty replayed batch (all its rows already folded) still
      // reaches here; applyTx short-circuits on an empty partition
      // set, so no table version is burned for it
      Cdc.applyTx(spark, txRoot, batch, keyCols, dataCols,
        partCol, partOf, lsnCol, opCol)
    }
  }

  /** Streaming MERGE-ON-READ CDC apply — the scattered-trickle
    * streaming upsert sink: each micro-batch folds through
    * [[Cdc.applyTxMor]] under the (txnId, batchId) watermark, so the
    * effect is EXACTLY-ONCE across crash-replay (a replayed batch
    * skips WHOLESALE — version history stays clean — instead of
    * relying on fold idempotence), write bytes ∝ the batch, and no
    * partition column or partOf contract is needed (the table's own
    * layout places post-images). [[cdcApplyTxStream]] remains the
    * copy-on-write sibling for batches whose keys cluster.
    */
  def cdcApplyTxMorStream(
      spark: SparkSession,
      feed: DataFrame,
      txRoot: String,
      keyCols: Seq[String],
      dataCols: Seq[String],
      checkpoint: String,
      lsnCol: String = "lsn",
      opCol: String = "op",
      txnId: String = "",
      afterBatch: Long => Unit = _ => ()): Unit = {
    // the watermark identity must survive restarts: default to the
    // checkpoint path, which IS the stream's durable identity
    val id = if (txnId.nonEmpty) txnId else s"cdc_mor:$checkpoint"
    drain(feed, Some(checkpoint), afterBatch) { (batch, batchId) =>
      Cdc.applyTxMor(spark, txRoot, batch, keyCols, dataCols,
        lsnCol, opCol, txn = Some((id, batchId)))
    }
  }

  /** Streaming distinct-count MV: fold each micro-batch's HLL states
    * ([[graft.operators.Sketches]]) into a [[graft.sources.TxTable]]
    * MV — the continuous form of the q_sketch_mv fold, with EXACTLY-
    * ONCE effect on the non-idempotent `n` column across crashes.
    *
    * Idempotence device (batchId-as-version): the MV is created as an
    * empty version 0 before the stream starts, and batch b may commit
    * ONLY version b+1 — so after a crash in the at-least-once window
    * (MV committed, checkpoint not), the replayed batch finds
    * `version != batchId` and skips without burning a version or
    * double-counting. A second writer racing the same version is
    * refused by the manifest's exclusive-create commit point, exactly
    * like every other TxTable writer.
    *
    * At scale each fold shuffles the BATCH plus one fixed-size state
    * row per key — never history (the [[graft.operators
    * .Sketches]] contract), and the MV table is time-travelable: every
    * batch boundary is a named version.
    */
  def sketchMvStream(
      spark: SparkSession,
      feed: DataFrame,
      mvRoot: String,
      keys: Seq[String],
      valueCol: String,
      checkpoint: String,
      lgK: Int = 12,
      afterBatch: Long => Unit = _ => ()): Unit = {
    import graft.operators.Sketches
    import graft.sources.TxTable
    if (TxTable.currentSnapshot(spark, mvRoot).isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feed.schema)
      TxTable.create(Sketches.distinctState(empty, keys, col(valueCol), lgK), mvRoot)
    }
    drain(feed, Some(checkpoint), afterBatch) { (batch, batchId) =>
      val cur = TxTable.currentSnapshot(spark, mvRoot).get
      if (cur.version == batchId) { // else: replay of an applied batch
        val state = Sketches.distinctState(batch, keys, col(valueCol), lgK)
        TxTable.rewriteAll(spark, mvRoot,
          mv => Sketches.mergeDistinct(mv, state, keys))
      }
    }
  }

  /** Serving read of a [[sketchMvStream]] MV: keys ++ (n,
    * approx_distinct).
    */
  def readSketchMv(spark: SparkSession, mvRoot: String, keys: Seq[String]): DataFrame =
    graft.operators.Sketches.estimateDistinct(
      graft.sources.TxTable.read(spark, mvRoot), keys)

  /** CONTINUOUS duplicate-cluster maintenance — the streamed
    * composition of the r10 ingest-dedup banding and the r11
    * incremental fold (VERDICT r11 item 6): each micro-batch of
    * documents is LSH-banded ONCE, its delta edges (batch×corpus
    * bucket join + batch×batch pairs, both exact-Jaccard verified)
    * folded into the standing labels with
    * [[graft.operators.Components.connectedIncremental]] — per cycle
    * the corpus is touched by the two narrow fold joins, never a
    * corpus×corpus pass. Durable state under `stateDir`:
    *
    *   - `sh/b<id>`, `banded/b<id>` — the batch's LSH side, written
    *     once and never rewritten (per-cycle state write ∝ batch: the
    *     reusable-corpus-side contract of [[graft.operators.Dedup
    *     .lshSide]] made durable; the standing side is the union of
    *     the consolidated base plus the batch sides committed since,
    *     rehydrated via `lshSideFromStored`);
    *   - `base/sh/v<id>`, `base/banded/v<id>` — the CONSOLIDATED side
    *     covering every batch ≤ <id>, rewritten by compaction every
    *     `compactEvery` committed batches (VERDICT r12 item 1: without
    *     it a fold re-opened ALL previous batches' directories —
    *     per-fold listing/open cost O(batches), cumulative O(batches²);
    *     a day of one-minute micro-batches is a 1,440-directory
    *     listing storm. With it a fold reads ≤ 1 base + compactEvery
    *     batch directories);
    *   - `compacts/<id>` — compaction marker, written AFTER the
    *     consolidated base (marker-last, like the fold commit);
    *     superseded markers, batch sides covered by the base, older
    *     base versions, pruned labels, and commit markers below the
    *     compaction point are deleted AFTER the marker — a crash
    *     mid-cleanup leaves stale directories the read path ignores
    *     and the next compaction sweeps;
    *   - `labels_tbl/` + `labels_delta/b<id>` (DEFAULT, `labelsAsTable
    *     = true`) — the standing labeling as a graft transactional
    *     table plus a per-batch delta SIDECAR: each fold appends only
    *     its changed rows to the sidecar (write AND read ∝ delta +
    *     touched components; `stream_cc_bytes_b<id>` records it per
    *     fold), the logical labeling is table ⊕ sidecar with
    *     last-writer-wins by fold, and the ONE corpus-scale MERGE
    *     runs on the compaction cadence — which then also
    *     materializes delete debt, vacuums superseded files, and
    *     prunes manifest history, so per-fold cost is flat in batch
    *     index and persistence state is bounded in batch count.
    *     `labels/v<id>` (`labelsAsTable = false`) — the
    *     folded whole-corpus labeling rewritten per batch (∝ corpus;
    *     the simpler option when the corpus is small or a plain
    *     parquet labeling is wanted downstream); compaction prunes
    *     all but the latest;
    *   - `commits/<id>` — the fold's marker (`commitFold`): a
    *     replayed batch that committed is skipped wholesale, one that
    *     did not overwrites the same per-batch paths and commits —
    *     never a double fold. An EMPTY batch burns no marker and no
    *     state. Markers below the latest compaction point are pruned
    *     (micro-batch ids are contiguous, so the compaction point
    *     witnesses every earlier commit); replay can only touch the
    *     tail batch, never a pruned id.
    *
    * Restartable: resuming with the same `checkpoint` + `stateDir`
    * continues from the last committed batch (StreamSpec crashes a
    * drain in `afterBatch` — including across a compaction boundary —
    * and proves the restarted drain equals the uninterrupted one).
    * Result invariance: LSH pair membership is pairwise, so the union
    * over batches of (batch×earlier ∪ batch×batch) pair sets is
    * exactly the whole-corpus pair set and the folded labels equal a
    * from-scratch [[graft.operators.Components.connected]] —
    * q_stream_cc's oracle recomputes them in DuckDB by recursive
    * reachability over the full corpus. Document ids must be unique
    * across the feed (an append-only corpus).
    *
    * Returns the final labeling (`idCol`, `component`).
    */
  def clusterStream(
      docs: DataFrame, idCol: String, textCol: String,
      stateDir: String, checkpoint: String,
      n: Int, tau: Double, bands: Int, rowsPerBand: Int,
      compactEvery: Int = 8,
      labelsAsTable: Boolean = true,
      afterBatch: Long => Unit = _ => ()): DataFrame = {
    require(compactEvery >= 1, "clusterStream: compactEvery must be >= 1")
    val spark = docs.sparkSession
    drain(docs, Some(checkpoint), afterBatch) { (batch, batchId) =>
      maybeCompact(spark, stateDir, compactEvery, labelsAsTable, idCol)
      val committed = commitFold(spark, stateDir, batchId, "stream_cc_fold") { done =>
        if (batch.isEmpty) false // nothing to fold, no state burned
        else {
          clusterFold(spark, batch, batchId, done.filter(_ < batchId),
            idCol, textCol, stateDir, n, tau, bands, rowsPerBand, labelsAsTable)
          true
        }
      }
      // prune superseded labelings (post-marker: every future reader —
      // the next fold, the drain's final read, a crash-replay — uses
      // labels/v<latest committed> and that is now this batch's), so
      // labels/ holds ONE labeling, not one per batch of the drain
      if (committed && !labelsAsTable)
        sweep(spark, s"$stateDir/labels", "v")(_ < batchId)
    }
    clusterLabels(spark, stateDir, idCol, labelsAsTable)
  }

  /** The standing labeling of a [[clusterStream]] state directory
    * (`idCol`, `component`) as of its last committed batch.
    */
  private[graft] def clusterLabels(
      spark: SparkSession, stateDir: String, idCol: String,
      labelsAsTable: Boolean): DataFrame = {
    val last = committedBatches(spark, stateDir)
    require(last.nonEmpty,
      "clusterStream: no batch committed — empty feed has no labeling")
    if (labelsAsTable) logicalLabels(spark, stateDir, idCol, last)
    else spark.read.parquet(s"$stateDir/labels/v${last.max}")
  }

  /** labels-as-TABLE mode (r15 form — VERDICT r14 item 1): the
    * standing labeling lives in a graft transactional table PLUS a
    * per-batch DELTA SIDECAR, and the two are reconciled only on the
    * compaction cadence.
    *
    * The r14 design MERGEd each fold's delta straight into the table.
    * Write bytes were ∝ delta, but the MERGE's target-table READ side
    * was O(corpus) EVERY batch: a trickle batch's random doc ids touch
    * every bucket, so the position scan pruned nothing, each fold
    * re-read the whole corpus-scale labeling, and per-fold DV/manifest
    * debt accreted between compactions — SCALE_r14 measured fold
    * seconds climbing 2.6 → 8.0s over a 40-batch drain at FIXED
    * corpus. The fix decouples per-batch durability from per-batch
    * reconciliation:
    *
    *   - per fold: the delta labeling ([[graft.operators.Components
    *     .connectedIncrementalDelta]] — one row per new doc plus base
    *     docs in touched components) is APPENDED as plain parquet to
    *     `labels_delta/b<id>` with a `__fold` column. Write AND read
    *     are ∝ delta; the table is untouched, so nothing accretes
    *     between compactions and fold cost is flat in batch index;
    *   - the LOGICAL labeling = table ⊕ committed sidecar batches
    *     above the compaction point, last-writer-wins by `__fold`
    *     ([[logicalLabels]]) — what the next fold reads as its base
    *     and what the drain returns;
    *   - at compaction: ONE corpus-scale MERGE folds the consolidated
    *     sidecar (latest row per id) into the table — amortized
    *     1/compactEvery per batch, exactly-once under crash-replay via
    *     the table's txn watermark (`(LabelsTxnId, compactionPoint)` —
    *     monotone across compactions) — then the usual materialize /
    *     vacuum / pruneHistory bound the table's own debt, and the
    *     merged sidecar directories are deleted post-marker (a crash
    *     mid-cleanup leaves stale dirs the read path ignores — they
    *     are ≤ the compaction point — and the next compaction sweeps).
    */
  private def labelsTablePath(stateDir: String): String =
    s"$stateDir/labels_tbl"

  private def labelsDeltaPath(stateDir: String, batchId: Long): String =
    s"$stateDir/labels_delta/b$batchId"

  private val LabelsTxnId = "graft_cluster_stream_labels"

  /** Bucket count of the labels table's `bucket(n, id)` layout. */
  private val LabelsBuckets = 16

  /** Latest committed sidecar row per id across `ids` (last-writer-
    * wins by `__fold`, the batch that wrote it).
    */
  private def sidecarLatest(
      spark: SparkSession, stateDir: String, idCol: String,
      ids: Seq[Long]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__fold").desc)
    spark.read
      .parquet(ids.map(i => labelsDeltaPath(stateDir, i)): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("component"))
  }

  /** The LOGICAL labeling: the table overlaid with every committed
    * sidecar batch above the compaction point (those at or below it
    * are already merged — stale dirs a crashed cleanup left are
    * correctly ignored). The overlay side is delta-sized, so the
    * anti-join is broadcast-scale against the corpus table.
    */
  private def logicalLabels(
      spark: SparkSession, stateDir: String, idCol: String,
      committed: Seq[Long]): DataFrame = {
    val tbl = spark.read.format("graft").load(labelsTablePath(stateDir))
      .select(col(idCol), col("component"))
    val compact = latestCompact(spark, stateDir)
    val pend = committed.filter(i => compact.forall(i > _))
    if (pend.isEmpty) tbl
    else {
      val latest = sidecarLatest(spark, stateDir, idCol, pend)
      tbl.join(latest, Seq(idCol), "left_anti").unionByName(latest)
    }
  }

  /** Latest compaction point: every batch ≤ it is consolidated into
    * `base/{sh,banded}/v<it>`.
    */
  private def latestCompact(
      spark: SparkSession, stateDir: String): Option[Long] = {
    val ids = listIds(spark, s"$stateDir/compacts")
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The standing corpus side's directories for a fold whose committed
    * predecessors are `prevIds`: the consolidated base (if any) plus
    * the batch sides committed since — ≤ 1 + compactEvery directories
    * by the compaction schedule, regardless of drain length.
    */
  private def baseSidePaths(
      stateDir: String, compact: Option[Long],
      prevIds: Seq[Long], sub: String): Seq[String] =
    compact.map(v => s"$stateDir/base/$sub/v$v").toSeq ++
      prevIds.filter(i => compact.forall(i > _))
        .map(i => s"$stateDir/$sub/b$i")

  /** Consolidate per-batch LSH sides into one base every `k` committed
    * batches. Idempotent and marker-last: the consolidated side is
    * written to a deterministic version path, the `compacts/` marker
    * follows, and ONLY then are covered batch directories, older base
    * versions, superseded labels, and stale commit markers deleted —
    * a crash anywhere re-runs to the same result, and readers ignore
    * anything a crashed cleanup left behind.
    */
  private def maybeCompact(
      spark: SparkSession, stateDir: String, k: Int,
      labelsAsTable: Boolean = false, idCol: String = ""): Unit = {
    val done = committedBatches(spark, stateDir)
    if (done.isEmpty) return
    val c = latestCompact(spark, stateDir)
    val pending = done.filter(i => c.forall(i > _))
    if (pending.size < k) return
    val t0 = System.nanoTime()
    val b = pending.max
    Seq("sh", "banded").foreach { sub =>
      spark.read
        .parquet(baseSidePaths(stateDir, c, pending, sub): _*)
        .write.mode("overwrite").parquet(s"$stateDir/base/$sub/v$b")
    }
    // labels-as-table mode: the ONE corpus-scale MERGE — fold the
    // consolidated sidecar (latest row per id over the pending
    // batches) into the standing table, BEFORE the marker so the
    // marker witnesses it. Exactly-once across crash-replay: the txn
    // watermark at the compaction point is monotone, so a re-run after
    // a crash between this commit and the marker is a no-op.
    // LOUD, not destructive (ADVICE r15): the post-marker cleanup
    // below deletes the merged sidecar dirs, so a missing labels
    // table here (externally damaged, or a refactor moving creation)
    // must abort the compaction — silently skipping the MERGE while
    // the sweep proceeds would delete committed label deltas unmerged.
    if (labelsAsTable) {
      require(
        graft.sources.TxTable
          .currentSnapshot(spark, labelsTablePath(stateDir)).isDefined,
        s"labels table missing at ${labelsTablePath(stateDir)} with " +
          "committed sidecar batches pending — refusing to compact " +
          "(the sweep would delete unmerged label deltas)")
      graft.sources.MergeOnRead.mergeInto(spark, labelsTablePath(stateDir),
        sidecarLatest(spark, stateDir, idCol, pending),
        keys = Seq(idCol), txn = Some((LabelsTxnId, b)))
    }
    // marker LAST: the consolidated base exists iff its marker does
    fsOf(spark, stateDir).create(
      new org.apache.hadoop.fs.Path(s"$stateDir/compacts/$b"), true).close()
    // cleanup (post-marker, idempotent): covered batch sides — the
    // listing also sweeps leftovers of a previously crashed cleanup
    sweep(spark, s"$stateDir/sh", "b")(_ <= b)
    sweep(spark, s"$stateDir/banded", "b")(_ <= b)
    sweep(spark, s"$stateDir/base/sh", "v")(_ < b)
    sweep(spark, s"$stateDir/base/banded", "v")(_ < b)
    sweep(spark, s"$stateDir/compacts", "")(_ < b)
    // superseded labelings and commit markers below the compaction
    // point (ids are contiguous: the marker at b witnesses them)
    sweep(spark, s"$stateDir/labels", "v")(_ < done.max)
    sweep(spark, s"$stateDir/commits", "")(_ < b)
    // sidecar batches at or below the compaction point are merged —
    // delete them (post-marker; the listing also sweeps leftovers of a
    // previously crashed cleanup, which the read path already ignores)
    sweep(spark, s"$stateDir/labels_delta", "b")(_ <= b)
    // labels-as-table mode: pay down the merge-on-read delete debt the
    // compaction MERGE just created (cost ∝ DV-affected files,
    // amortized 1/compactEvery per batch), then RETIRE the manifest
    // history — vacuum superseded data files and prune manifests down
    // to the current version. The table's time travel below the
    // compaction point is given up: the labeling is derived state
    // whose history the stateDir's own commit markers already bound;
    // the txn watermark (carried in the CURRENT manifest) keeps
    // crash-replay a no-op.
    if (labelsAsTable) {
      val tbl = labelsTablePath(stateDir)
      graft.sources.MergeOnRead.materialize(spark, tbl)
      val cur = graft.sources.TxTable.currentSnapshot(spark, tbl).get.version
      graft.sources.TxTable.vacuum(spark, tbl, keepFromVersion = cur)
      graft.sources.TxTable.pruneHistory(spark, tbl, keepFromVersion = cur)
    }
    graft.tools.RunMetrics.put(
      s"stream_cc_compact_v$b", (System.nanoTime() - t0) / 1e9)
  }

  /** One non-empty, uncommitted micro-batch's state writes (see
    * [[clusterStream]]); `prevIds` are the batches committed before it.
    */
  private def clusterFold(
      spark: SparkSession, batch: DataFrame, batchId: Long, prevIds: Seq[Long],
      idCol: String, textCol: String, stateDir: String,
      n: Int, tau: Double, bands: Int, rowsPerBand: Int,
      labelsAsTable: Boolean): Unit = {
    import graft.operators.{Components, Dedup}
    // sidecar append — the whole per-fold labels write in table mode
    // (plain parquet at a deterministic path: a crashed fold's replay
    // overwrites it; the table itself is untouched until compaction)
    // REBALANCE before the delta-sized state writes (guide §6): the
    // batch side carries the ambient partition count, so each write
    // would land one tiny file per partition and every later fold
    // re-opens them all; size-based rebalancing writes few
    // advisory-sized files at any scale for one cheap delta shuffle
    def writeSidecar(delta: DataFrame): Unit =
      delta.withColumn("__fold", lit(batchId))
        .hint("rebalance")
        .write.mode("overwrite").parquet(labelsDeltaPath(stateDir, batchId))
    // phase labels (guide §1.5): the fold is many jobs; descriptions
    // let a profiler attribute them. Thread-local, cleared at the end.
    def phase(p: String): Unit =
      spark.sparkContext.setJobDescription(s"cc_fold b$batchId: $p")
    phase("side build+write")
    val side = Dedup.lshSide(batch.select(col(idCol), col(textCol)),
      idCol, textCol, n, bands, rowsPerBand)
    side.sh.hint("rebalance")
      .write.mode("overwrite").parquet(s"$stateDir/sh/b$batchId")
    side.banded.hint("rebalance")
      .write.mode("overwrite").parquet(s"$stateDir/banded/b$batchId")
    if (prevIds.isEmpty) {
      phase("initial connected labels")
      val labels = Components.connected(
        batch.select(col(idCol)), idCol,
        Dedup.minhashLshPairs(side, tau), "d1", "d2")
      if (labelsAsTable) {
        val tbl = labelsTablePath(stateDir)
        // bucket-laid by the id: the compaction-cadence MERGE's
        // position scan prunes at the MANIFEST to candidate buckets
        // (MergeOnRead.candidateEntries), and post-images place into
        // their bucket groups
        if (graft.sources.TxTable.currentSnapshot(spark, tbl).isEmpty)
          graft.sources.TxTable.createEmpty(spark, tbl, labels.schema,
            layout = Some(s"bucket($LabelsBuckets, $idCol)"))
        writeSidecar(labels)
      } else
        labels.write.mode("overwrite").parquet(s"$stateDir/labels/v$batchId")
    } else {
      val prevLbl =
        if (labelsAsTable) logicalLabels(spark, stateDir, idCol, prevIds)
        else spark.read.parquet(s"$stateDir/labels/v${prevIds.max}")
      // standing side = consolidated base + batch sides since — the
      // directory count is bounded by the compaction schedule, never
      // by drain length (recorded so the spec can gate it)
      val compact = latestCompact(spark, stateDir)
      val shPaths = baseSidePaths(stateDir, compact, prevIds, "sh")
      graft.tools.RunMetrics.put(
        s"stream_cc_dirs_b$batchId", shPaths.size.toDouble)
      val baseSide = Dedup.lshSideFromStored(
        spark.read.parquet(shPaths: _*),
        spark.read.parquet(
          baseSidePaths(stateDir, compact, prevIds, "banded"): _*),
        idCol, n, bands, rowsPerBand)
      // ONE fused candidate-union verification for the cycle's whole
      // delta (cross + within-batch) — see Dedup.lshDeltaPairs
      val delta = Dedup.lshDeltaPairs(baseSide, side, tau)
        .select(col("d1"), col("d2"))
      if (labelsAsTable) {
        // per-cycle labels WRITE ∝ delta: only the rows whose label
        // changes this cycle land in the sidecar; the corpus-scale
        // MERGE is deferred to the compaction cadence
        phase("incremental fold + sidecar")
        val changed = Components.connectedIncrementalDelta(
          prevLbl, idCol, "component",
          batch.select(col(idCol)), delta, "d1", "d2")
        writeSidecar(changed)
      } else {
        val labels = Components.connectedIncremental(prevLbl, idCol,
          "component", batch.select(col(idCol)), delta, "d1", "d2")
        labels.write.mode("overwrite").parquet(s"$stateDir/labels/v$batchId")
      }
    }
    // labels WRITE bytes per fold (VERDICT r13 item 2: the ∝-delta
    // claim as a recorded number): table mode sums the sidecar delta
    // it appended; rewrite mode sums the labeling dir it wrote
    val labelsDir =
      if (labelsAsTable) labelsDeltaPath(stateDir, batchId)
      else s"$stateDir/labels/v$batchId"
    graft.tools.RunMetrics.put(
      s"stream_cc_bytes_b$batchId", dirBytes(spark, labelsDir).toDouble)
    spark.sparkContext.setJobDescription(null)
  }

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) return 0L
    var total = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) { val st = it.next(); if (st.isFile) total += st.getLen }
    total
  }

  /** Continuous DSIR scoring for trickle ingest (VERDICT r16 item 8;
    * the batch operator is [[graft.operators.Dsir]] — Xie et al.,
    * NeurIPS 2023): each micro-batch is scored against the FROZEN
    * hashed-bigram target/source model of the last refresh point, and
    * the model is rebuilt from the accumulated corpus on a fixed
    * cadence (`refreshEvery` batches — the compaction-cadence device
    * the labels table uses). Scoring a batch therefore costs
    * O(batch); the O(corpus) stats pass is amortized 1/refreshEvery,
    * exactly the [[clusterStream]] compaction contract.
    *
    * State under `stateDir`:
    *   - `corpus_tbl` — a [[graft.sources.TxTable]] holding every
    *     batch's (id, text, target) slice under an identity `__fold`
    *     partition. Each fold lands via `overwritePartitions` on its
    *     OWN fold value, so a crashed batch's replay REPLACES its
    *     partition instead of double-appending — the idempotence the
    *     marker protocol needs, supplied by the table seam. A refresh
    *     "consolidates" by MANIFEST REFERENCE only (VERDICT r17
    *     item 1): the model build reads the table — the union of
    *     every committed slice file — and NOTHING recopies corpus
    *     bytes; the per-refresh write is the ≤ `buckets`-row model
    *     plus one manifest, both recorded
    *     (`stream_dsir_refresh_bytes_v<id>`). Superseded manifest
    *     history is pruned at the refresh cadence so driver-side
    *     planning state stays bounded; data-file count grows one
    *     slice per batch (delta-sized files, listed by the manifest,
    *     never by directory walk — `TxTable.compact` is the standing
    *     seam if a deployment wants fewer, bigger files);
    *   - `model/v<id>` — the ≤ `buckets`-row stats model per refresh
    *     point (history kept: a model is bytes);
    *   - `scores/b<id>` — the batch's (doc_id, n_feats, weight,
    *     model_v, fold);
    *   - `commits/<id>` — the fold's marker (`commitFold`): a
    *     replayed batch that did not commit re-lands the same fold
    *     partition / model / scores paths idempotently and commits.
    *
    * EMPTY batches commit too (ADVICE r17): an empty micro-batch
    * landing on a refresh point still rebuilds the model (from the
    * unchanged corpus) and writes its marker, so refresh points stay
    * a PURE function of the batch id — the invariant the q_stream_dsir
    * oracle's fold→model mapping relies on. (This also removes the
    * former per-batch `batch.isEmpty` pre-action — VERDICT r17
    * item 6: an empty slice write costs nothing and needs no probe.)
    *
    * Restartable: resuming with the same `checkpoint` + `stateDir`
    * continues from the last committed batch. Refresh points are a
    * pure function of the batch id, so a restarted drain produces
    * bit-identical scores (StreamSpec injects crashes — including one
    * MID-REFRESH, after the model write but before the marker — and
    * proves it).
    *
    * Returns every committed batch's scores
    * (doc_id, n_feats, weight, model_v, fold).
    */
  def dsirStream(
      docs: DataFrame, idCol: String, textCol: String, targetCol: String,
      stateDir: String, checkpoint: String,
      buckets: Int = 64, refreshEvery: Int = 5,
      afterBatch: Long => Unit = _ => ()): DataFrame = {
    require(refreshEvery >= 1, "dsirStream: refreshEvery must be >= 1")
    val spark = docs.sparkSession
    drain(docs, Some(checkpoint), afterBatch) { (batch, batchId) =>
      commitFold(spark, stateDir, batchId, "stream_dsir_fold") { _ =>
        dsirFold(spark, batch, batchId, idCol, textCol, targetCol,
          stateDir, buckets, refreshEvery)
        true
      }
    }
    val done = committedBatches(spark, stateDir)
    require(done.nonEmpty,
      "dsirStream: no batch committed — empty feed has no scores")
    // empty batches commit with a file-less scores directory; schema
    // inference needs at least one real file, so read only the dirs
    // that have one (the skipped dirs contribute zero rows by
    // construction)
    val fs = fsOf(spark, stateDir)
    val scoreDirs = done.map(i => s"$stateDir/scores/b$i").filter { d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    require(scoreDirs.nonEmpty,
      "dsirStream: every committed batch was empty — no scores")
    spark.read.parquet(scoreDirs: _*)
  }

  /** Test seam: invoked after a refresh fold's model write, BEFORE
    * the commit marker — StreamSpec injects a crash here to prove a
    * mid-refresh replay rebuilds the identical model (the fold
    * partition is replayed idempotently, so the table the rebuild
    * reads is bit-identical).
    */
  @volatile private[graft] var dsirAfterModelWriteHook: Long => Unit = _ => ()

  /** One uncommitted micro-batch's state writes (see [[dsirStream]]);
    * refresh seconds are recorded per refresh
    * (`stream_dsir_refresh_v<id>`), and each refresh also records what
    * it WROTE (`stream_dsir_refresh_bytes_v<id>` = model parquet +
    * manifest commit — model-sized, never corpus-sized) and the
    * table's standing file count (`stream_dsir_files_v<id>`), so a
    * drain prices the amortized O(corpus-READ) refresh separately
    * from the O(batch) scoring and certifies no corpus bytes are
    * rewritten.
    */
  private def dsirFold(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, targetCol: String,
      stateDir: String, buckets: Int, refreshEvery: Int): Unit = {
    import graft.operators.Dsir
    import graft.sources.TxTable
    val slice = batch.select(
      col(idCol), col(textCol), col(targetCol).cast("boolean").as("__tgt"))
    val tbl = s"$stateDir/corpus_tbl"
    val foldSlice = slice.withColumn("__fold", lit(batchId))
    if (TxTable.currentSnapshot(spark, tbl).isEmpty)
      TxTable.createEmpty(spark, tbl, foldSlice.schema,
        layout = Some("__fold"))
    // the batch's ONLY corpus write: its own delta-sized slice,
    // committed by reference into the table's manifest. Idempotent
    // under replay (a crashed batch's rerun replaces its own fold
    // partition); an EMPTY batch commits a file-less version — the
    // corpus is unchanged, which is exactly the refresh semantics.
    // (no rebalance: the micro-batch arrives as the source's own few
    // partitions — one per trigger file — so the slice write already
    // lands few files; an extra AQE stage per fold buys nothing)
    TxTable.overwritePartitions(foldSlice, tbl, "__fold")
    val refresh = batchId % refreshEvery == 0 ||
      listIds(spark, s"$stateDir/model").isEmpty
    if (refresh) {
      val t1 = System.nanoTime()
      // corpus-so-far = the table: folds 0..batchId by construction
      // (batches are sequential; a replayed fold re-lands its own
      // partition, so a mid-refresh crash replays over bit-identical
      // state). The model build READS the union by manifest
      // reference — no consolidation copy (VERDICT r17 item 1).
      val corpus = TxTable.read(spark, tbl)
      val model = Dsir.collectStats(
        corpus, idCol, textCol, col("__tgt"), buckets)
      import spark.implicits._
      model.toDF("b", "cs", "ct").coalesce(1)
        .write.mode("overwrite").parquet(s"$stateDir/model/v$batchId")
      // bound the driver-side planning state at the refresh cadence:
      // superseded manifest VERSIONS are pruned (tiny text files —
      // every data file stays referenced by the current manifest)
      val snap = TxTable.currentSnapshot(spark, tbl).get
      TxTable.pruneHistory(spark, tbl, snap.version)
      val manifestBytes = fsOf(spark, tbl).getFileStatus(new org.apache.hadoop.fs.Path(
        s"$tbl/_manifest/v${snap.version}.manifest")).getLen
      graft.tools.RunMetrics.put(
        s"stream_dsir_files_v$batchId", snap.entries.size.toDouble)
      graft.tools.RunMetrics.put(
        s"stream_dsir_refresh_bytes_v$batchId",
        (dirBytes(spark, s"$stateDir/model/v$batchId") + manifestBytes).toDouble)
      graft.tools.RunMetrics.put(
        s"stream_dsir_refresh_v$batchId", (System.nanoTime() - t1) / 1e9)
      dsirAfterModelWriteHook(batchId)
    }
    // score against the latest FROZEN model at or below this batch
    // (explicit schema: a model built from an all-empty corpus prefix
    // is a zero-row parquet dir, which schema inference can't read)
    val mv = listIds(spark, s"$stateDir/model").filter(_ <= batchId).max
    val model = spark.read.schema("b BIGINT, cs BIGINT, ct BIGINT")
      .parquet(s"$stateDir/model/v$mv")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Dsir.scoreAgainst(slice, idCol, textCol, model, buckets)
      .withColumn("model_v", lit(mv))
      .withColumn("fold", lit(batchId))
      .write.mode("overwrite").parquet(s"$stateDir/scores/b$batchId")
  }
}
