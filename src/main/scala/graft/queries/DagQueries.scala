package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.dag.Dag
import graft.dag.Dag._

/** Orchestration runner surface ([[graft.dag.Dag]]): the audit table
  * of a deterministic control-flow run, oracle-gated. The DAG is the
  * reference's canonical end-to-end package shape — parallel extracts
  * joined into a mart build, a probe task that fails, an OnFailure
  * quarantine leg, an OnSuccess publish leg (skipped by the failure),
  * and an OnCompletion log step (…/Глава 01…md:56-60 precedence
  * kinds; …/Глава 08…md end-to-end package). Statuses and row counts
  * are fully deterministic, so DuckDB replays the audit table from
  * the same inputs plus the constraint semantics.
  */
object DagQueries {

  def all: Seq[Q] = Seq(dagAudit, dagSchedule)

  /** Scheduled catch-up runs ([[graft.dag.Schedule]]): three missed
    * logical dates run exactly once each; the middle date's validate
    * task fails, a second scheduler invocation retries ONLY that date
    * and resumes it from its per-date checkpoint (load is restored,
    * not re-executed — attempt 0, row count carried by the restored
    * variables). The audit across both invocations is fully
    * deterministic — statuses from the schedule/checkpoint semantics,
    * row counts from the date-sliced orders table — so DuckDB replays
    * it from the same inputs. The Airflow `schedule_interval` +
    * catch-up story of the reference
    * (`Integration/Apache AirFlow/001 Intro.md:20-52`).
    */
  val dagSchedule: Q = Q(
    "q_dag_schedule",
    """WITH c AS (SELECT o_orderkey % 3 AS d, count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS invocation, CAST(0 AS BIGINT) AS logical_date,
      |    'load' AS task, 'succeeded' AS status, CAST(1 AS BIGINT) AS attempt,
      |    (SELECT n FROM c WHERE d = 0) AS n_rows
      |  UNION ALL SELECT 1, 0, 'validate', 'succeeded', 1, 0
      |  UNION ALL SELECT 1, 1, 'load', 'succeeded', 1,
      |    (SELECT n FROM c WHERE d = 1)
      |  UNION ALL SELECT 1, 1, 'validate', 'failed', 1, 0
      |  UNION ALL SELECT 1, 2, 'load', 'succeeded', 1,
      |    (SELECT n FROM c WHERE d = 2)
      |  UNION ALL SELECT 1, 2, 'validate', 'succeeded', 1, 0
      |  UNION ALL SELECT 2, 1, 'load', 'checkpointed', 0,
      |    (SELECT n FROM c WHERE d = 1)
      |  UNION ALL SELECT 2, 1, 'validate', 'succeeded', 1, 0
      |) ORDER BY invocation, logical_date, task""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.dag.Schedule
    val base = Fixtures.fresh("q_dag_schedule")
    val healthy = new java.util.concurrent.atomic.AtomicBoolean(false)
    val tasks = Seq(
      Task("load", ctx => ctx.set("rows_load",
        Tables.orders(ctx.spark, dir)
          .filter(col("o_orderkey") % 3 ===
            ctx.get("logical_date_ms").get.toLong)
          .count().toString)),
      Task("validate", ctx =>
        if (!healthy.get && ctx.get("logical_date_ms").contains("1"))
          sys.error("validation gate down for interval [1,2)")))
    val edges = Seq(Edge("load", "validate", OnSuccess))
    def invoke(i: Int): Seq[(Int, Long, String, String, Long, Long)] =
      Schedule.runCatchup(s, tasks, edges, "sched",
        startMs = 0, periodMs = 1, nowMs = 3,
        stateFile = s"$base/state", checkpointDir = Some(s"$base/cp"))
        .flatMap { sr =>
          sr.run.results.map(r => (i, sr.logicalDateMs, r.task,
            r.status.label, r.attempt.toLong,
            if (r.task == "load")
              sr.run.vars.get("rows_load").map(_.toLong).getOrElse(0L)
            else 0L))
        }
    val first = invoke(1)
    healthy.set(true)
    val second = invoke(2)
    (first ++ second)
      .toDF("invocation", "logical_date", "task", "status", "attempt", "n_rows")
      .orderBy(col("invocation"), col("logical_date"), col("task"))
  }

  val dagAudit: Q = Q(
    "q_dag_audit",
    """WITH mart AS (
      |  SELECT count(*) AS c FROM orders o
      |  WHERE EXISTS (SELECT 1 FROM lineitem l
      |                WHERE l.l_orderkey = o.o_orderkey))
      |SELECT * FROM (
      |  SELECT 'build_mart' AS task, 'succeeded' AS status,
      |    CAST(1 AS BIGINT) AS attempt, (SELECT c FROM mart) AS n_rows
      |  UNION ALL SELECT 'extract_lineitem', 'succeeded', 1,
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL SELECT 'extract_orders', 'succeeded', 1,
      |    (SELECT count(*) FROM orders)
      |  UNION ALL SELECT 'log_done', 'succeeded', 1, 1
      |  UNION ALL SELECT 'probe_feed', 'failed', 1, 0
      |  UNION ALL SELECT 'publish', 'skipped', 0, 0
      |  UNION ALL SELECT 'quarantine', 'succeeded', 1,
      |    (SELECT count(*) FROM lineitem WHERE l_quantity > 49)
      |) ORDER BY task""".stripMargin) { (s, dir) =>
    import s.implicits._
    val run = Dag.run(s,
      tasks = Seq(
        Task("extract_orders", ctx => ctx.set("rows_extract_orders",
          Tables.orders(ctx.spark, dir).count().toString)),
        Task("extract_lineitem", ctx => ctx.set("rows_extract_lineitem",
          Tables.lineitem(ctx.spark, dir).count().toString)),
        Task("build_mart", ctx => ctx.set("rows_build_mart",
          Tables.orders(ctx.spark, dir).join(
              Tables.lineitem(ctx.spark, dir)
                .select(col("l_orderkey")).distinct(),
              col("o_orderkey") === col("l_orderkey"), "left_semi")
            .count().toString)),
        Task("probe_feed", _ => sys.error("external feed unavailable")),
        Task("quarantine", ctx => ctx.set("rows_quarantine",
          Tables.lineitem(ctx.spark, dir)
            .filter(col("l_quantity") > 49).count().toString)),
        Task("publish", _ => sys.error("must never run")),
        Task("log_done", ctx => ctx.set("rows_log_done", "1"))),
      edges = Seq(
        Edge("extract_orders", "build_mart", OnSuccess),
        Edge("extract_lineitem", "build_mart", OnSuccess),
        Edge("probe_feed", "quarantine", OnFailure),
        Edge("build_mart", "publish", OnSuccess),
        Edge("probe_feed", "publish", OnSuccess),
        Edge("build_mart", "log_done", OnCompletion),
        Edge("probe_feed", "log_done", OnCompletion)),
      runId = "q_dag_audit")
    run.results
      .map(r => (r.task, r.status.label, r.attempt.toLong,
        run.vars.get(s"rows_${r.task}").map(_.toLong).getOrElse(0L)))
      .toDF("task", "status", "attempt", "n_rows")
      .orderBy(col("task"))
  }
}
