package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession policy, for every main and the test suite, so
  * the oracle validates exactly the plans the bench times. Keep
  * `perfbench/harness/Harness.scala`'s copy of these confs in step.
  * The codegen-stability defaults (no stage id in generated class
  * names, no session clone per `persist`) are not set here but in
  * [[GraftExtensions.Defaults]]: the benchmark harness builds its own
  * session from a fixed copy of these confs, and the extension is the
  * one part of this policy that reaches it (and every new or cloned
  * session). */
object Session {

  /** Local task threads: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(threads: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // let CACHED plans participate in AQE partition coalescing
      // (default false pins a cached plan's map-side partitioning):
      // graft operators persist narrow delta-sized intermediates —
      // shingle sets, band rows, fixpoint labels — that dozens of
      // downstream jobs rescan, and with the default every such job
      // pays one task per ambient shuffle partition even when the
      // cached delta is KB-sized. Size-based coalescing is the
      // scale-correct rule at any tier (guide §2.2/§2.4); measured
      // −40% total task count on q_stream_cc, −34% q_incremental_cc.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // prefer shuffled-hash join when the planner's size conditions
      // allow (guide §3.1) — measured r19 full-catalog A/B on one host:
      // 196.9s with vs 216.9s without (3-pass-min totals; join-heavy
      // movers q_fuzzy_lookup 3.05→3.86, q_knn_ann 1.09→1.47,
      // q_dedup_clusters 4.24→4.91 without it). Build sides stay
      // bounded at scale: the flag only ENABLES the planner's
      // canBuildLocalHashMap choice (per-partition plan size under
      // autoBroadcastJoinThreshold × shuffle.partitions), it never
      // forces a hash build.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `confs` set on the session, then put each key back
    * as it was — its prior value, or unset when it had none — also
    * when `body` throws.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
