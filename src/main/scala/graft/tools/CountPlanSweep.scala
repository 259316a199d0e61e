package graft.tools

/** Catalog-wide count-plan vs full-plan sweep (VERDICT r15 item 1's
  * "done" evidence): for every catalog query, optimize BOTH the
  * query's own plan and the plan `df.count()` would run (an
  * Aggregate(count(1)) on top), and diff the operator-class counts.
  * Any operator class the count plan has FEWER of than the full plan
  * is work a count-as-run action would not execute — the defect class
  * that made 12 r15 bench entries under-report (q_semdedup lost its
  * entire pair stage). The bench no longer uses count()
  * ([[Exec.materialize]] runs the query's own executed plan, so its
  * timed plan and the full plan are the same object by construction);
  * this sweep documents per query what the old action was discarding
  * and stands guard against any future count()-as-run regression.
  *
  * Output: one JSON line — per-query lost-node classes (queries with
  * no loss omitted), plus totals. `--out <path>` also writes it to a
  * file. Analysis-only: no query is executed beyond whatever its
  * thunk materializes eagerly while building.
  */
object CountPlanSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val dir = "/root/testdata/sf0.01"

    def classCounts(
        plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Map[String, Int] =
      plan.collectWithSubqueries { case n => n.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }

    val results = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) => graft.CacheScope.scoped(spark) {
        try {
          val df = fn(spark, dir)
          val full = classCounts(df.queryExecution.optimizedPlan)
          // the plan count() runs: groupBy().count() over the same
          // logical child, optimized — Catalyst prunes/eliminates
          // against the count aggregate exactly as the old action did
          val cnt = classCounts(
            df.groupBy().count().queryExecution.optimizedPlan)
          val lost = full.toSeq.sortBy(_._1).flatMap { case (cls, n) =>
            val kept = cnt.getOrElse(cls, 0)
            if (kept < n) Some(s""""$cls":${n - kept}""") else None
          }
          if (lost.isEmpty) None
          else Some(s""""$name":{${lost.mkString(",")}}""")
        } catch {
          case e: Throwable =>
            Some(s""""$name":{"error":"${e.getClass.getSimpleName}"}""")
        }
      }
    }
    val json =
      s"""{"metric":"count_plan_sweep","n":${graft.SparkEntry.queries.size},""" +
        s""""queries_losing_work_under_count":${results.size},""" +
        s""""note":"operator classes the count()-re-planned plan has fewer of than the query's own plan; the bench action is Exec.materialize (the query's own plan), so these are what the OLD count()-as-run action was silently discarding","lost":{${results.mkString(",")}}}"""
    val outIdx = args.indexOf("--out")
    if (outIdx >= 0 && outIdx + 1 < args.length)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(args(outIdx + 1)), json + "\n")
    println(json)
    spark.stop()
  }
}
