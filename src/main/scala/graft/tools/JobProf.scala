package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only: per-JOB wall-clock breakdown of a catalog query.
  *
  * Bench prices a query as one number, but many catalog queries are
  * MULTI-ACTION (DML phases, streaming folds, fixpoint rounds): the
  * driver submits dozens of Spark jobs per timed region, and the
  * optimization work needs to know which ACTION the seconds belong to
  * before touching a plan. This main runs each named query once warm
  * (untimed) and once instrumented, printing every job's wall, task
  * count, and call site, plus the DRIVER GAP between consecutive jobs
  * (planning/commit/listing time never shows inside any job).
  *
  * Not part of the driver contract; `sbt "runMain graft.tools.JobProf
  * q_stream_cc"`.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProf <query names…>")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    // A/B harness: GRAFT_EXTRA_CONF="k=v;k=v" applies session confs
    // before any query runs, so a candidate conf can be profiled
    // without touching the contract mains
    sys.env.get("GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    for (name <- args) {
      // warm pass: JIT + codegen cache + fixture memos
      graft.CacheScope.scoped(spark)(
        Exec.materialize(graft.SparkEntry.queries(name)(spark, dir)))
      val jobs = new java.util.concurrent.ConcurrentHashMap[
        Int, (Long, String, Int)]()
      val done = new java.util.concurrent.ConcurrentLinkedQueue[
        (Int, Long, Long, String, Int)]()
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))
              .orElse(Option(p.getProperty("callSite.short"))))
            .getOrElse("")
          jobs.put(js.jobId,
            (js.time, site, js.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(jobs.remove(je.jobId)).foreach { case (t0, site, nt) =>
            done.add((je.jobId, t0, je.time, site, nt))
          }
        }
      }
      spark.sparkContext.addSparkListener(l)
      val wall = graft.CacheScope.scoped(spark) {
        val t0 = System.nanoTime()
        Exec.materialize(graft.SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      // listener bus is async; give it a beat to drain
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      val rows = done.asScala.toSeq.sortBy(_._2)
      println(f"\n===== $name wall=$wall%.2f s, ${rows.size} jobs =====")
      var prevEnd = 0L
      for ((id, s, e, site, nt) <- rows) {
        val gap = if (prevEnd == 0) 0L else math.max(0, s - prevEnd)
        println(f"job $id%4d ${(e - s) / 1e3}%7.3f s  gap=${gap / 1e3}%6.3f s  tasks=$nt%4d  $site")
        prevEnd = math.max(prevEnd, e)
      }
      val (jobMs, gapMs) =
        jobTimeAndGaps((wall * 1e3).toLong, rows.map(r => (r._2, r._3)))
      println(f"job time (union)=${jobMs / 1e3}%.2f s, driver gaps=${gapMs / 1e3}%.2f s")
    }
    spark.stop()
  }

  /** (job ms, driver-gap ms) of a query's `wallMs`, from its jobs'
    * (start, end) intervals. Job time is the UNION of the intervals —
    * AQE stages and broadcasts run overlapping jobs, so summing
    * per-job walls counts their overlap twice — and the gaps are the
    * rest of the wall.
    */
  private[graft] def jobTimeAndGaps(
      wallMs: Long, jobs: Seq[(Long, Long)]): (Long, Long) = {
    val (busy, _) = jobs.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, end), (s, e)) =>
        if (e <= end) (sum, end) else (sum + e - math.max(s, end), e)
    }
    (busy, math.max(0L, wallMs - busy))
  }
}
