package graft

import graft.tools.{Exec, RunMetrics}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * A first untimed pass at sf0.001 warms the JVM (JIT + Hadoop FS
  * init happen once) so the timed pass measures the queries, not
  * classloading. Spark's codegen cache (100 entries by default) holds
  * far less than the catalog's working set, so each (query, pass)
  * records its Janino compile count as `compiles_p<pass>` in `extras`.
  *
  * SELF-DIAGNOSING against VM contention: the full catalog is timed
  * over THREE interleaved passes and every query reports its per-pass
  * MIN, MEDIAN, and MAX (the SCALE_r10 spread protocol, VERDICT r10
  * item 7). This box shows CPU-steal bursts that inflate individual
  * timings 20-60× for minutes at a time (BENCH_r2/r4 were poisoned
  * end-to-end; same-code r10 runs spread 90-115s); a burst overlaps
  * at most one of the well-separated passes of a given query, so the
  * MIN is the honest per-query cost, and the min/med/max spread in
  * the artifact itself distinguishes a host window (wide spread on
  * code-untouched queries) from a real regression (tight spread at a
  * higher level) without forensic re-measurement. All raw passes land
  * in target/bench.json.
  */
object Bench {
  private val Passes = 3

  def main(args: Array[String]): Unit = {
    // Optional args = query-name subset: bench-identical config and
    // protocol over just those queries, for targeted spread
    // measurements (e.g. the CC family). The driver calls with no
    // args → full catalog, contract unchanged.
    val subset: Option[Set[String]] =
      if (args.isEmpty) None else Some(args.toSet)
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()

    val names = SparkEntry.queries.keys.toSeq
      .filter(n => subset.forall(_(n)))

    val warmDir = "/root/testdata/sf0.001"
    names.foreach(name => Exec.warm(spark, name, warmDir)(SparkEntry.queries(name)))

    // A query that throws records the sentinel -1 (not a plausible
    // wall-clock) for that pass; failed passes are excluded from MIN
    // so a flaky pass can't mask a real timing. The two failure modes
    // are reported SEPARATELY so consumers never see a query listed as
    // an error while also carrying a valid time: `errors` = failed in
    // EVERY pass (its MIN stays -1 and it contributes nothing to the
    // total); `flaky` = failed in some pass but succeeded in another
    // (its MIN is a real wall-clock from the passing run).
    val failCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // diagnostic extras harvested per (query, pass): banding-join
    // candidate counts (RunMetrics.observedCount in the operators) and
    // per-micro-batch streaming fold timings — merged across passes by
    // MIN (counts are pass-invariant; timings follow the protocol's
    // steal-resistant min). VERDICT r12 items 4+5: a family/parameter
    // change that inflates candidates now shows in every round's bench
    // artifact, and q_stream_cc's per-cycle fold cost is separated
    // from the 3-batch drain constant.
    RunMetrics.install(spark)
    val extras = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Map[String, Double]]
    def compiles: Long = // generated classes compiled in this JVM so far
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def onePass(pass: Int): Map[String, Double] =
      names.map { name =>
        // flush-then-reset: a failed prior query skipped its harvest;
        // its in-flight observations must land (and be discarded)
        // before this query's window opens (ADVICE r13)
        RunMetrics.flushAndReset(spark)
        val c0 = compiles
        val dt =
          try Exec.timed(spark)(SparkEntry.queries(name)(spark, sfDir))._2
          catch { case _: Throwable =>
            failCounts(name) = failCounts.getOrElse(name, 0) + 1; -1.0 }
        val ex = extras.getOrElseUpdate(name, scala.collection.mutable.Map.empty)
        ex(s"compiles_p$pass") = (compiles - c0).toDouble
        // observation families deduped by full name: internal driver
        // actions re-fire the same CollectMetrics instance (ADVICE r13)
        if (dt >= 0) Exec.minMerge(ex, RunMetrics.harvestedDeduped(spark))
        name -> dt
      }.toMap
    val passes = (1 to Passes).map(onePass)
    val spreads = names.map { n =>
      val ts = passes.map(_(n)).filter(_ >= 0)
      n -> (if (ts.isEmpty) None else Some(Exec.Spread.of(ts)))
    }
    def agg(f: Exec.Spread => Double): Seq[(String, Double)] =
      spreads.map { case (n, s) => n -> s.fold(-1.0)(f) }
    val best = agg(_.min)
    val med = agg(_.med)
    val worst = agg(_.max)
    def qjson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def strArr(ss: Iterable[String]): String =
      ss.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = strArr(failCounts.collect {
      case (n, c) if c == Passes => n })
    val flakyJson = strArr(failCounts.collect {
      case (n, c) if c < Passes => n })
    val total = best.map(_._2).filter(_ >= 0).sum
    val passJson = passes.map(p => qjson(names.map(n => n -> p(n))))
      .mkString("[", ",", "]")
    // Full per-query map goes to a FILE; stdout's LAST line is a
    // compact totals-only record. The per-query line grew past the
    // harness's tail window (BENCH_r1..r3 all show "parsed": null from
    // a line truncated mid-number), so the machine-readable contract
    // is: short final line on stdout, full detail in target/bench.json.
    val extrasJson = extras.map { case (q, m) =>
      "\"" + q + "\":" + qjson(m.toSeq.sortBy(_._1))
    }.mkString("{", ",", "}")
    // per-query regression gate (VERDICT r17 item 5): the 2× wall gate
    // vs the r1 47-query run dilutes as the catalog grows, so each
    // query is also held to its OWN frozen baseline —
    // BENCH_BASELINE.json records the BENCH_LOCAL_r17 per-query
    // medians, and any query whose steal-resistant MIN exceeds 2× its
    // frozen median lands in `regressions` (with both numbers).
    // Queries newer than the freeze are reported under
    // `baseline_missing` so additions are visible, never silently
    // ungated. Applied only at the baseline's own sf.
    val (regrJson, missJson) = {
      val p = java.nio.file.Paths.get("BENCH_BASELINE.json")
      if (!java.nio.file.Files.exists(p)) ("[]", "[]")
      else {
        val txt = java.nio.file.Files.readString(p)
        val baseSf = "\"sf\":\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (!baseSf.contains(sfDir)) ("[]", "[]")
        else {
          val entry = "\"(q_[A-Za-z0-9_]+)\":\\s*([0-9.Ee+-]+)".r
          val baseline = entry.findAllMatchIn(
            txt.drop(txt.indexOf("\"queries_med\"")))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val regr = best.collect {
            case (n, t) if t >= 0 && baseline.get(n).exists(b => t > 2 * b) =>
              f"""{"query":"$n","sec":$t%.3f,"baseline_med":${baseline(n)}%.3f}"""
          }
          val miss = best.collect {
            case (n, t) if t >= 0 && !baseline.contains(n) => "\"" + n + "\""
          }
          (regr.mkString("[", ",", "]"), miss.mkString("[", ",", "]"))
        }
      }
    }
    val full = s"""{"metric":"total","value":$total,"unit":"sec","passes":$Passes,""" +
      s""""queries":${qjson(best)},"queries_med":${qjson(med)},""" +
      s""""queries_max":${qjson(worst)},"raw_passes":$passJson,"errors":$errJson,""" +
      s""""flaky":$flakyJson,"regressions":$regrJson,""" +
      s""""baseline_missing":$missJson,"extras":$extrasJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] target/bench.json not written: $e") }
    println(full)
    println(s"""{"metric":"total","value":$total,"unit":"sec","passes":$Passes,"n":${best.size},"errors":$errJson,"flaky":$flakyJson,"regressions":$regrJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
