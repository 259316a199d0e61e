package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-run diagnostic metrics the bench/rehearsal artifacts carry next
  * to wall-clock (VERDICT r12 items 4+5): candidate-pair counts
  * MATERIALIZED by each banding join (`observe()` CollectMetrics on
  * the join output — the number the bucket census predicts, recorded
  * at whatever scale the query actually ran), and per-micro-batch fold
  * timings from the streaming cluster maintenance. A future family or
  * parameter change that inflates candidates (the r11 SimHash block
  * saturation class) then shows up in EVERY round's bench artifact,
  * not only when the rehearsal runs.
  *
  * Mechanics: operators wrap their banding-join output in
  * [[observedCount]] — a `Dataset.observe` with a per-instantiation
  * unique name (Spark requires observation names unique within one
  * query, and one plan can band twice, e.g. an incremental fold's
  * base-cross + within-batch legs). A [[QueryExecutionListener]]
  * installed by [[install]] harvests every observation whose name
  * carries the graft prefix into a process-wide registry, SUMMING
  * same-key observations within a window; [[put]]/[[add]] record
  * driver-side scalars (fold timings) directly. Consumers call
  * [[reset]] before a run, flush the (async) listener bus via
  * `org.apache.spark.GraftSparkBridge.flushListenerBus`, then
  * [[snapshot]]. Always-on and driver-resident: a CollectMetrics node
  * is one count per partition merged on the driver — noise-level cost
  * — and in a deployment the registry simply holds the driver's own
  * query metrics. Purely diagnostic: never consulted by an operator,
  * never part of a result.
  */
object RunMetrics {

  /** Observation-name prefix; the suffix after `__` uniquifies. */
  private val ObsPrefix = "graft_m_"
  private val seq = new AtomicLong

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, Double]
  // full observation names (suffix included) — lets a test pin THE
  // observation its own plan carries even when concurrently-running
  // suites emit the same family key
  private val regRaw =
    scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Count the rows flowing through `df` under `key` (summed with any
    * other observation of the same key harvested in this window).
    */
  def observedCount(key: String, df: DataFrame): DataFrame =
    df.observe(s"$ObsPrefix${key}__${seq.incrementAndGet()}",
      count(lit(1)).as("n"))

  /** Record/overwrite a driver-side scalar. */
  def put(key: String, v: Double): Unit = reg.put(key, v)

  /** Accumulate into a driver-side scalar. */
  def add(key: String, v: Double): Unit = merge(key, v, _ + _)

  private def merge(key: String, v: Double, f: (Double, Double) => Double): Unit = {
    var done = false
    while (!done) {
      reg.putIfAbsent(key, v) match {
        case None => done = true
        case Some(old) => done = reg.replace(key, old, f(old, v))
      }
    }
  }

  def reset(): Unit = {
    reg.clear(); regRaw.clear()
    evictStoppedAccs()
    maxAccs.values.foreach(_.reset())
  }

  /** Registry snapshot, with any registered max-accumulators folded in
    * (max-merge) — so executor-side recordings surface identically in
    * local mode and on a real cluster. Accumulators of STOPPED contexts
    * are evicted first (ADVICE r14): a suite-local session's stale
    * recording must not surface in a later run's snapshot, and the
    * per-context map must not retain every context ever seen.
    */
  def snapshot: Map[String, Double] = {
    evictStoppedAccs()
    val m = scala.collection.mutable.Map.empty[String, Double]
    m ++= reg.readOnlySnapshot()
    maxAccs.foreach { case ((_, key), a) =>
      if (!a.isZero)
        m(key) = m.get(key).fold(a.value)(math.max(_, a.value))
    }
    m.toMap
  }

  private def evictStoppedAccs(): Unit =
    maxAccs.keys.foreach { k => if (k._1.isStopped) maxAccs.remove(k) }

  // ---- executor-side max metrics (ADVICE r13 item 1) ----

  /** Max-merge [[AccumulatorV2]]: task-side copies record local
    * maxima; Spark merges them into the driver original at task
    * completion — the cluster-correct transport for per-task evidence
    * like the delta reader's heaviest-DV size (a direct registry write
    * from task code only works where tasks share the driver JVM).
    */
  final class MaxAccumulator
      extends org.apache.spark.util.AccumulatorV2[Double, Double] {
    private var m: Double = Double.NegativeInfinity
    override def isZero: Boolean = m == Double.NegativeInfinity
    override def copy(): MaxAccumulator = {
      val a = new MaxAccumulator; a.m = m; a
    }
    override def reset(): Unit = m = Double.NegativeInfinity
    override def add(v: Double): Unit = m = math.max(m, v)
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[Double, Double]): Unit =
      m = math.max(m, other.value)
    override def value: Double = m
  }

  private val maxAccs = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), MaxAccumulator]

  /** The registered max-accumulator for `key` on this context (one
    * per (context, key); [[snapshot]] folds its value in under `key`,
    * [[reset]] zeroes it with the registry).
    */
  def maxAccumulator(
      sc: org.apache.spark.SparkContext, key: String): MaxAccumulator = {
    evictStoppedAccs()
    maxAccs.getOrElseUpdate((sc, key), {
      val a = new MaxAccumulator
      sc.register(a, s"graft_$key")
      a
    })
  }

  /** Snapshot keyed by FULL observation name (unique suffix included);
    * see [[regRaw]]. Test-facing.
    */
  private[graft] def rawSnapshot: Map[String, Double] =
    regRaw.readOnlySnapshot().toMap

  // ---- listener install (idempotent per session) ----

  private val installed =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Harvest `qe`'s observed metrics into the registry — the shared
    * path for the async listener AND for synchronous harvest after a
    * raw-RDD materialization ([[graft.tools.Exec.materialize]]
    * executes `qe.toRdd`, which never reaches `Dataset.withAction`,
    * so the listener never fires for it; the observation accumulators
    * on the QueryExecution are populated either way).
    */
  def harvestQe(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith(ObsPrefix) && !row.isNullAt(0)) {
        val full = name.stripPrefix(ObsPrefix)
        add(full.split("__").head, row.getLong(0).toDouble)
        regRaw.put(full, row.getLong(0).toDouble)
      }
    }

  /** Register the harvesting [[QueryExecutionListener]] on `spark`
    * (once per session). Harvest is on the ASYNC listener bus — flush
    * it (GraftSparkBridge.flushListenerBus) before [[snapshot]].
    */
  def install(spark: SparkSession): Unit = {
    val fresh = installed.synchronized {
      if (installed.containsKey(spark)) false
      else { installed.put(spark, java.lang.Boolean.TRUE); true }
    }
    if (fresh) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = harvestQe(qe)
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
  }

  /** Flush the async listener bus, then snapshot — the one-call
    * harvest consumers use after materializing a query.
    */
  def harvested(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.GraftSparkBridge.flushListenerBus(spark.sparkContext)
    snapshot
  }

  /** [[harvested]] with observation families DEDUPED by full
    * observation name (ADVICE r13): an operator's INTERNAL driver
    * action (e.g. the broadcast-remap guard's `limit().count()`) runs
    * a plan containing the same CollectMetrics nodes the final action
    * runs, so the family-key SUM in [[reg]] can count one observation
    * instance twice. `regRaw` holds exactly one (last) value per full
    * name, so summing IT per family counts each instantiation once —
    * distinct instantiations in one plan (e.g. an incremental fold's
    * base-cross + within-batch legs) still sum. Driver-side scalars
    * ([[put]]/[[add]] keys, never observation-named) pass through.
    */
  def harvestedDeduped(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.GraftSparkBridge.flushListenerBus(spark.sparkContext)
    val byFamily = regRaw.readOnlySnapshot().toSeq
      .groupBy(_._1.split("__").head)
      .map { case (fam, kvs) => fam -> kvs.map(_._2).sum }
    snapshot.filterNot { case (k, _) => byFamily.contains(k) } ++ byFamily
  }

  /** Flush the async bus, THEN clear — consumers call this between
    * runs so a prior (possibly failed) run's in-flight observations
    * land and are discarded before the next window opens, instead of
    * leaking into it (ADVICE r13: a query that fails skips its
    * harvest, and its late observations would otherwise be attributed
    * to the next query).
    */
  def flushAndReset(spark: SparkSession): Unit = {
    org.apache.spark.GraftSparkBridge.flushListenerBus(spark.sparkContext)
    reset()
  }
}
