package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{CacheScope, SparkEntry}
import graft.tools.{Exec, RunMetrics}

/** Closed-loop, single-client workload runner for the benchmark.
  *
  * Runs one workload's query mix as cycles (one pass over the mix in a
  * seed-permuted order) through the engine's public entry points only:
  * the catalog thunks, `Exec.materialize`, `CacheScope.release` and
  * `RunMetrics`. It records raw timings, per-cycle host noise and, on
  * traced cycles, listener events; `perfbench/run.py` turns the record
  * into metrics. Nothing here is a result of the engine.
  *
  * Usage: Harness <key=value ...> with keys queries (comma list), seed,
  * cycles, warmCycles, trace (0|1), data (dir), check (dir), out (file),
  * cpus, localDir.
  */
object Harness {

  // wall clock in epoch ms with nanoTime resolution, comparable with
  // listener event times (System.currentTimeMillis)
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---- traced-cycle recorders: listener events land here ----

  private final case class Job(id: Int, start: Double, var end: Double = -1,
      var tasks: Int = 0, var taskMs: Double = 0, var cpuMs: Double = 0,
      var shufW: Double = 0, var shufR: Double = 0, var spill: Double = 0,
      var fetchWait: Double = 0, var inBytes: Double = 0, var inRows: Double = 0,
      taskDur: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentLinkedQueue[Double]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.put(js.jobId, Job(js.jobId, js.time.toDouble))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.end = je.time.toDouble)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(te.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = te.taskMetrics
      j.foreach { j => j.synchronized {
        j.tasks += 1
        j.taskDur += te.taskInfo.duration.toDouble
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.fetchWait += m.shuffleReadMetrics.fetchWaitTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
        }
      } }
    }
  }

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(planMs(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(planMs(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def setTracing(spark: SparkSession, on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

  private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  // ---- host and JVM counters, recorded raw on every cycle ----

  private def readFile(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: java.io.IOException => "" }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  private def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => -1.0
  }

  private def fsBytesWritten: Double =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum.toDouble

  private def noise(): Map[String, Any] = Map(
    "t" -> nowMs, "stat" -> readFile("/proc/stat").linesIterator.take(1).mkString,
    "psi" -> readFile("/proc/pressure/cpu").linesIterator.take(1).mkString,
    "gc_ms" -> gcMs, "jit_ms" -> jitMs, "cpu_ms" -> cpuMs, "fs_bytes" -> fsBytesWritten)

  /** Files under the queries' table roots: path -> (size, mtime). */
  private def tableFiles(root: Path): Map[String, (Long, Long)] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      catch { case _: java.io.UncheckedIOException => Map.empty }
      finally s.close()
    }

  // ---- minimal JSON writer ----

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case p: Product => js(p.productIterator.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val names = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val warmCycles = opt("warmCycles").toInt
    // a traced run alternates untraced and traced cycles, two of each
    // at least
    val timedCycles = if (trace) math.max(4, opt("cycles").toInt) else opt("cycles").toInt
    val cpus = opt("cpus")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n"))).toMap

    // graft.Bench's session settings; only the scratch location differs
    val t0 = nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("localDir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs - t0
    val dataDir = opt("data")

    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
    def fail(phase: String, cycle: Int, q: String, e: Throwable): String = {
      val msg = s"${e.getClass.getName}: ${e.getMessage}".take(400)
      errors += Map("phase" -> phase, "cycle" -> cycle, "query" -> q, "error" -> msg)
      System.err.println(s"[perfbench] $phase $q failed: $msg")
      msg
    }

    // set-up pass, outside the timed cycles: each query once on the
    // timed tier with its result written for the oracle check; this
    // is also the warm-up (JIT, codegen cache, file-system init)
    graft.queries.Q.renderDir = dataDir
    val w0 = nowMs
    val setupQueries = names.map { n =>
      val q0 = nowMs
      try fns(n)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"${opt("check")}/$n")
      catch { case e: Throwable => fail("check", -1, n, e) }
      CacheScope.release()
      spark.catalog.clearCache()
      n -> (nowMs - q0)
    }.toMap
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    RunMetrics.install(spark)
    // untimed cycles with the timed action, so timing starts nearer
    // the JIT's steady state
    for (c <- 1 to warmCycles; n <- new scala.util.Random(seed - c).shuffle(names)) {
      try Exec.materialize(fns(n)(spark, dataDir))
      catch { case e: Throwable => fail("warm", -c, n, e) }
      CacheScope.release()
      spark.catalog.clearCache()
    }
    val warmMs = nowMs - w0

    val tableRoot = Paths.get("target", "tmp").toAbsolutePath
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Seq[Any]]
    var spanSeq = 0
    def span(parent: Int, name: String, s: Double, e: Double): Int = {
      spanSeq += 1; spans += Seq(spanSeq, parent, name, s, e); spanSeq
    }

    val firstQuery = nowMs
    var cycle = 0
    // in a traced run the cycles alternate untraced/traced so both
    // halves see the same host and the tracing overhead is measured
    while (cycle < timedCycles) {
      val traced = trace && cycle % 2 == 1
      if (traced) setTracing(spark, on = true)
      val order = new scala.util.Random(seed * 1000003L + cycle).shuffle(names)
      val n0 = noise()
      val cycleSpan = { spanSeq += 1; spanSeq }
      var files = if (traced) tableFiles(tableRoot) else Map.empty[String, (Long, Long)]
      order.foreach { n =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        if (traced) { RunMetrics.flushAndReset(spark); jobs.clear(); stageJob.clear(); drain(plans); drain(progress) }
        val tb = nowMs
        var rows = -1L
        var err: String = null
        var finalPlanMs = 0.0
        var tm = tb
        try {
          val df: DataFrame = fns(n)(spark, dataDir)
          tm = nowMs
          rows = Exec.materialize(df)
          finalPlanMs = planMs(df.queryExecution)
        } catch { case e: Throwable => err = fail("timed", cycle, n, e) }
        val te = nowMs
        CacheScope.release()
        val tr = nowMs
        spark.catalog.clearCache()
        val tc = nowMs
        val rec = mutable.LinkedHashMap[String, Any](
          "cycle" -> cycle, "query" -> n, "traced" -> traced, "start" -> tb,
          "build_ms" -> (tm - tb), "mat_ms" -> (te - tm), "release_ms" -> (tr - te),
          "clear_ms" -> (tc - tr), "rows" -> rows, "error" -> err)
        if (traced) {
          val cands = RunMetrics.harvestedDeduped(spark)
            .collect { case (k, v) if k.startsWith("cand_") => v }.sum
          val q = span(cycleSpan, "query:" + n, tb, tc)
          span(q, "build", tb, tm); span(q, "materialize", tm, te); span(q, "release", te, tc)
          val js = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
          val prog = drain(progress).map(_.progress)
          def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
            Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          val byRun = prog.groupBy(_.runId)
          val qePlans = drain(plans)
          val after = spark.sparkContext.getPersistentRDDs.keySet
          val fresh = after -- before
          val residentMb = spark.sparkContext.getRDDStorageInfo
            .filter(i => fresh.contains(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
          val now = tableFiles(tableRoot)
          val changed = now.filter { case (p, v) => !files.get(p).contains(v) }
          files = now
          rec ++= Map(
            "jobs" -> js.map(j => Seq(j.start, j.end)),
            "task_durations" -> js.flatMap(_.taskDur),
            "layers" -> Map(
              "spark.jobs" -> js.size.toDouble, "spark.tasks" -> js.map(_.tasks).sum.toDouble,
              "spark.task_ms" -> js.map(_.taskMs).sum, "spark.task_cpu_ms" -> js.map(_.cpuMs).sum,
              "shuffle.write_mb" -> js.map(_.shufW).sum / 1e6, "shuffle.read_mb" -> js.map(_.shufR).sum / 1e6,
              "shuffle.spill_mb" -> js.map(_.spill).sum / 1e6, "shuffle.fetch_wait_ms" -> js.map(_.fetchWait).sum,
              "scan.input_mb" -> js.map(_.inBytes).sum / 1e6, "scan.input_rows" -> js.map(_.inRows).sum,
              "catalyst.plans" -> (qePlans.size + 1).toDouble, "catalyst.plan_ms" -> (qePlans.sum + finalPlanMs),
              "operators.cand_pairs" -> cands,
              "streaming.batches" -> prog.size.toDouble,
              "streaming.batch_ms" -> prog.map(dur(_, "triggerExecution")).sum,
              "streaming.plan_ms" -> prog.map(dur(_, "queryPlanning")).sum,
              "streaming.commit_ms" -> prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
              "streaming.state_rows" -> byRun.values.map(_.map(_.stateOperators.map(_.numRowsTotal).sum).max).sum.toDouble,
              "streaming.state_mb" -> byRun.values.map(_.map(_.stateOperators.map(_.memoryUsedBytes).sum).max).sum / 1e6,
              "cachescope.resident_rdds" -> fresh.size.toDouble, "cachescope.resident_mb" -> residentMb,
              "sources.files_written" -> changed.size.toDouble,
              "sources.commits" -> changed.keys.count(p => p.contains("/_manifest/") && p.matches(".*/v\\d+\\.manifest")).toDouble))
        }
        execs += rec.toMap
      }
      val n1 = noise()
      val wall = nowMs - n0("t").asInstanceOf[Double]
      if (traced) {
        spans += Seq(cycleSpan, 0, s"cycle:$cycle", n0("t"), n1("t"))
        setTracing(spark, on = false)
      }
      cycles += Map("cycle" -> cycle, "traced" -> traced, "wall_ms" -> wall, "order" -> order,
        "start" -> n0, "end" -> n1)
      cycle += 1
    }
    val timedEnd = nowMs

    // live heap: the least in-use heap over a few full GCs, letting
    // Spark's cleaner threads drop what the previous GC released
    val heap = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    val resident = spark.sparkContext.getPersistentRDDs.size

    val out = Map(
      "queries" -> names, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "jvm_start_ms" -> jvmStart, "session_ms" -> sessionMs, "warm_ms" -> warmMs, "setup_query_ms" -> setupQueries,
      "first_query_ms" -> firstQuery, "timed_end_ms" -> timedEnd,
      "heap_live_mb" -> heap, "resident_rdds_end" -> resident,
      "executions" -> execs, "cycles" -> cycles, "spans" -> spans,
      "errors" -> errors, "oracles" -> oracles)
    Files.writeString(Paths.get(opt("out")), js(out))
    spark.stop()
  }
}
