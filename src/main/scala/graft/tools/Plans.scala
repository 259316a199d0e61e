package graft.tools

/** Catalog-wide plan dump + self-check — the `EXPLAIN PIPELINE`
  * discipline of the reference's datamart guidance (…/Datamarts/
  * Правильное построение витрины с множественными агрегациями.md:141)
  * applied to every query in the catalog: review scan pruning,
  * pushdown, broadcast choice, shuffle count, and enforce the
  * no-unintended-cartesian invariant in the SAME pass, so the dump
  * artifact can never drift from the check (`PlanSpec` runs
  * [[violations]] over the full catalog on every `sbt test` too).
  *
  * Usage: `runMain graft.tools.Plans all --out PLANS_rN.txt` writes
  * the dump and exits nonzero on any violation; with query names it
  * prints just those plans to stdout.
  */
object Plans {

  /** The documented BroadcastNestedLoopJoin allowlist. These four are
    * the only catalog plans allowed a nested-loop join, each by
    * design:
    *   - q_embed_cosine_pairs / q_knn_brute — the intentionally O(n²)
    *     exact-similarity ORACLE BASELINES the bucketed/ANN scale
    *     paths are verified against (their whole point is all-pairs);
    *   - q_embed_decontaminate — non-equi join (id inequality) over a
    *     BROADCAST benchmark side: each corpus row scans the small
    *     broadcast bench exactly once, which is the right shape for
    *     "corpus × small contamination set";
    *   - q_sketch_overlap — pairwise theta-sketch overlap of a
    *     handful of AGGREGATED sketch states (k rows, not data rows).
    * A CartesianProduct is never allowed anywhere.
    */
  val BnljAllowlist: Set[String] = Set(
    "q_embed_cosine_pairs", "q_knn_brute",
    "q_embed_decontaminate", "q_sketch_overlap")

  /** Scan one query's physical-plan text for scale-killer joins. */
  def violations(name: String, plan: String): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (plan.contains("CartesianProduct"))
      v += s"$name: CartesianProduct — unbounded all-pairs, never intended"
    if (plan.contains("BroadcastNestedLoopJoin") && !BnljAllowlist(name))
      v += s"$name: BroadcastNestedLoopJoin outside the documented allowlist " +
        s"(${BnljAllowlist.mkString(", ")})"
    v.result()
  }

  /** Pin the window-group-limit plan class (VERDICT r17 item 2): a
    * GLOBAL window (empty partition spec) funnels its whole input
    * through ONE task, so it is scale-safe only over provably bounded
    * rows. The catalog's global rank windows are safe today because
    * Catalyst rewrites `row_number().over(orderBy)` + `filter(rn<=k)`
    * into a WindowGroupLimit / top-k BELOW the window — but that
    * safety lives in an optimizer rule, not the code shape; an edit
    * that breaks rule applicability (an extra projection between
    * window and filter, say) would silently reintroduce a
    * corpus-scale single-partition sort. This check makes the plan
    * class itself the contract: every empty-partition Window must sit
    * above a bounded input — a WindowGroupLimit, a limit
    * (TakeOrderedAndProject's logical form), a global aggregate
    * (one row), or a LocalRelation (driver-sized literal) — reached
    * through row-preserving/reducing nodes only. NO allowlist: a
    * query that trips this must rank-cut below the window
    * (`orderBy.limit(k)` then rank) or partition the spec.
    */
  def windowViolations(
      name: String,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: WindowGroupLimit => true
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      // row-preserving / row-reducing wrappers: boundedness passes
      // through (a nested global Window is itself checked by collect)
      case s: Sort => bounded(s.child)
      case pr: Project => bounded(pr.child)
      case f: Filter => bounded(f.child)
      case sa: SubqueryAlias => bounded(sa.child)
      case w: Window => bounded(w.child)
      case r: RepartitionOperation => bounded(r.child)
      case _ => false
    }
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"$name: unpartitioned Window over unbounded input — every row " +
          "funnels through one task at corpus scale; rank-cut below the " +
          "window (WindowGroupLimit/limit) or partition the window spec"
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val dir = "/root/testdata/sf0.01"
    val outIdx = args.indexOf("--out")
    if (outIdx >= 0 && outIdx + 1 >= args.length) {
      System.err.println(
        "usage: graft.tools.Plans [all | query names…] [--out <path>]")
      sys.exit(2)
    }
    val outPath = if (outIdx >= 0) Some(args(outIdx + 1)) else None
    val rest = args.zipWithIndex
      .filterNot { case (_, i) => i == outIdx || i == outIdx + 1 }.map(_._1)
    val names =
      if (rest.sameElements(Array("all"))) graft.SparkEntry.queries.keys.toSeq.sorted
      else if (rest.nonEmpty) rest.toSeq
      else Seq(
        "q_pricing_summary", "q_datamart_customer", "q_lookup_cascade",
        "q_limit_by", "q_embed_cosine_pairs")
    val sink = outPath.map(p => new java.io.PrintWriter(p, "UTF-8"))
    def emit(s: String): Unit = sink match {
      case Some(w) => w.println(s)
      case None => println(s)
    }
    val bad = Seq.newBuilder[String]
    var bnljAllowed = 0
    for (n <- names) {
      emit(s"\n========== $n ==========")
      val qe = graft.SparkEntry.queries(n)(spark, dir).queryExecution
      val plan = qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      emit(plan)
      bad ++= violations(n, plan)
      bad ++= windowViolations(n, qe.optimizedPlan)
      if (plan.contains("BroadcastNestedLoopJoin") && BnljAllowlist(n))
        bnljAllowed += 1
    }
    val violationsFound = bad.result()
    val summary =
      s"PLANCHECK n=${names.size} violations=${violationsFound.size} " +
        s"bnlj_allowlisted=$bnljAllowed"
    emit(s"\n$summary")
    violationsFound.foreach(v => emit(s"VIOLATION $v"))
    sink.foreach(_.close())
    println(summary)
    violationsFound.foreach(v => println(s"VIOLATION $v"))
    spark.stop()
    if (violationsFound.nonEmpty) sys.exit(1)
  }
}
