package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for the narrow intermediates graft operators `persist()`
  * while building a result (shingle sets, signature tables, gram and
  * bucket tables). Operators return LAZY DataFrames, so they can never
  * unpersist their own intermediates — the blocks must outlive the
  * call until the caller materializes the result.
  *
  * The library contract: after materializing an operator's result
  * (count/collect/write), call [[CacheScope.release]] — or
  * `spark.catalog.clearCache()` — to drop every graft-internal cached
  * block. Every main runs each query inside [[CacheScope.scoped]],
  * which does both; a long-lived session that skips it degrades to
  * LRU eviction, never to wrong results. (The one deliberate
  * exception: `CsvIngest`/`XmlIngest` cache their RETURNED staging
  * frame — Spark requires corrupt-record-only projections to be
  * cached, and releasing a frame the caller still holds would break
  * that contract.)
  */
object CacheScope {
  private val tracked = scala.collection.mutable.Buffer.empty[DataFrame]

  /** `df.persistTracked()` — persist and register for [[release]]. */
  implicit final class TrackedDataFrame(private val df: DataFrame)
      extends AnyVal {
    def persistTracked(): DataFrame = track(df)
  }

  private[graft] def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df.persist()
  }

  /** Unpersist every operator-internal cached block. */
  def release(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach(df =>
      try df.unpersist(blocking)
      catch { case e: Throwable =>
        System.err.println(s"[CacheScope] unpersist of $df failed: $e") })
    tracked.clear()
  }

  /** Run `body` (one query: build + materialize), then drop every
    * graft-internal cached block and the session's cache, also when
    * `body` throws.
    */
  def scoped[T](spark: SparkSession)(body: => T): T =
    try body
    finally { release(); spark.catalog.clearCache() }

  /** Free the blocks of a frame returned by
    * [[localCheckpointTruncated]]. `Dataset.unpersist` is a no-op
    * there: the blocks belong to the RDD inside the frame's
    * `LogicalRDD`, which the session's cache manager never saw.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eager `localCheckpoint(true)` that does NOT carry the source
    * plan's inferred constraint set into the checkpointed LogicalRDD.
    *
    * `Dataset.localCheckpoint` truncates the logical plan and the RDD
    * lineage, but it also REWRITES the optimized plan's `constraints`
    * onto the new LogicalRDD (`LogicalRDD.fromDataset` →
    * `rewriteStatsAndConstraints`). For an ITERATIVE fold — scd2 over
    * a sequence of snapshot dates, connected-components rounds — the
    * constraint EXPRESSIONS compound across iterations even though the
    * plan stays flat: a union's common-constraint merge ORs the legs'
    * constraint sets, each leg carries the previous iteration's
    * constraint through the checkpointed base, and the per-iteration
    * expression size DOUBLES (measured: 3 constraints growing 187 →
    * 10M chars by fold 15 of a 25-date scd2 backfill, then OOM inside
    * the optimizer copying EqualNullSafe trees). Scoping
    * `spark.sql.constraintPropagation.enabled=false` around the
    * checkpoint makes the captured set empty — the fold boundary is a
    * clean slate, which is exactly what checkpointing promises. The
    * flag only gates constraint INFERENCE (an optimization), never
    * results.
    */
  private[graft] def localCheckpointTruncated(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val conf = sess.conf
    val key = "spark.sql.constraintPropagation.enabled"
    // The flag is SESSION-global and graft folds can overlap on one
    // SparkSession (Dag runs tasks concurrently): a naive get/set/
    // restore pair interleaved across two threads can restore the
    // wrong value and leave constraint propagation disabled for the
    // rest of the session. A nesting counter serializes save/restore:
    // the FIRST entering call saves the ambient value, the LAST
    // leaving call restores it, and the flag being off while any
    // checkpoint is in flight only skips an optimization for queries
    // that compile inside that window — never changes results.
    // The counter and saved value are keyed PER SparkSession (ADVICE
    // r12): the conf is per-session state, so overlapping folds on two
    // sessions (newSession() per thread) must not restore one
    // session's ambient value into the other — a JVM-global pair did
    // exactly that.
    cpLock.synchronized {
      cpState.get(sess) match {
        case Some((d, saved)) => cpState(sess) = (d + 1, saved)
        case None =>
          val ambient = conf.get(key)
          conf.set(key, "false")
          cpState(sess) = (1, ambient)
      }
    }
    try df.localCheckpoint(true)
    finally cpLock.synchronized {
      val (d, saved) = cpState(sess)
      if (d == 1) { conf.set(key, saved); cpState.remove(sess) }
      else cpState(sess) = (d - 1, saved)
    }
  }

  private val cpLock = new Object
  // per-SparkSession (nesting depth, saved ambient value); entries are
  // removed when the last nested call leaves, so the map never retains
  // a session past its in-flight checkpoints
  private val cpState =
    scala.collection.mutable.Map.empty[
      org.apache.spark.sql.SparkSession, (Int, String)]

  /** Currently tracked block count (diagnostics / tests). */
  def trackedCount: Int = synchronized(tracked.size)

  /** Frames tracked right now (tests assert per-frame unpersist after
    * [[release]] without racing concurrently-running suites' caches).
    */
  private[graft] def trackedSnapshot: Seq[DataFrame] =
    synchronized(tracked.toList)
}
