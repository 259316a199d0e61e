package graft

import graft.tools.{Exec, RunMetrics}

/** Pins the bench action (VERDICT r15 item 1): `df.count()` re-plans
  * the query with an Aggregate(count(1)) on top, after which column
  * pruning + cardinality-neutral elimination can discard the very
  * work being timed — q_semdedup's entire pair stage (and its
  * CollectMetrics observation) vanished under the old bench action.
  * [[graft.tools.Exec.materialize]] executes the query's OWN
  * executed plan, so the observation firing is the direct witness
  * that nothing was re-planned away.
  */
class ExecSpec extends SparkSpec {

  private def newObsKeys(prefix: String)(run: => Unit): Map[String, Double] = {
    val before = RunMetrics.rawSnapshot.keySet
    run
    org.apache.spark.GraftSparkBridge.flushListenerBus(spark.sparkContext)
    RunMetrics.rawSnapshot.filter { case (k, _) =>
      k.startsWith(prefix) && !before(k) }
  }

  test("materialize runs the full plan: the semdedup observation fires") {
    RunMetrics.install(spark)
    var n = 0L
    val got = newObsKeys("cand_semdedup__") {
      n = Exec.materialize(SparkEntry.queries("q_semdedup")(spark, sf))
    }
    assert(n > 0, "q_semdedup returned no rows")
    assert(got.nonEmpty && got.values.forall(_ > 0),
      s"cand_semdedup must be observed under the bench action; got $got")
    graft.CacheScope.release()
  }

  test("the r15 defect, documented: count() eliminates the pair stage") {
    RunMetrics.install(spark)
    val got = newObsKeys("cand_semdedup__") {
      SparkEntry.queries("q_semdedup")(spark, sf).count()
    }
    // under the count-re-planned action the CollectMetrics node (and
    // the joins it observes) are gone — the reason Bench must never
    // use count() as its "run it" action
    assert(got.isEmpty,
      s"count() unexpectedly kept the semdedup observation: $got — " +
        "if Catalyst stops eliminating it, Exec.materialize is still " +
        "the honest action, but this documentation test needs updating")
    graft.CacheScope.release()
  }

  test("materialize returns the row count of the query's own result") {
    import spark.implicits._
    val df = Seq(1, 2, 3, 4).toDF("x").filter($"x" > 1)
    assert(Exec.materialize(df) == 3L)
  }

  test("Spread: min, middle and max of an odd pass count") {
    assert(Exec.Spread.of(Seq(3.0, 1.0, 2.5)) == Exec.Spread(1.0, 2.5, 3.0))
  }

  test("Spread: an even pass count averages the two middle values") {
    assert(Exec.Spread.of(Seq(4.0, 1.0)) == Exec.Spread(1.0, 2.5, 4.0))
  }

  test("minMerge keeps the per-key minimum and adds new keys") {
    val into = scala.collection.mutable.Map("a" -> 2.0, "b" -> 1.0)
    Exec.minMerge(into, Map("a" -> 1.5, "b" -> 3.0, "c" -> 7.0))
    assert(into == scala.collection.mutable.Map(
      "a" -> 1.5, "b" -> 1.0, "c" -> 7.0))
  }

  test("timed returns the rows and rethrows a failing body") {
    import spark.implicits._
    val (n, sec) = Exec.timed(spark)(Seq(1, 2, 3).toDF("x"))
    assert(n == 3L && sec >= 0.0)
    intercept[IllegalStateException] {
      Exec.timed(spark)(throw new IllegalStateException("boom"))
    }
  }
}
