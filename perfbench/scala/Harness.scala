package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The JVM side of the benchmark: one closed-loop client that runs a
  * workload's queries through the program's public entry points
  * (`graft.Bench.session`, `graft.Tables.load`,
  * `graft.SparkEntry.benchQueries`, the noop sink) and records what it
  * sees from outside with listeners and MXBeans. It writes one JSON
  * document of raw records; `perfbench/run.py` turns them into metrics.
  *
  * Args: out.json lake cpus seed warm-passes trace q1,q2,...
  */
object Harness {

  // ---- clock: epoch milliseconds with sub-ms resolution -------------
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---- JSON output: Jackson with its Scala module, both on Spark's classpath
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  private def obj(kv: (String, Any)*): collection.Map[String, Any] =
    collection.immutable.ListMap(kv: _*)

  // ---- JVM counters -------------------------------------------------
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Snapshot of the process-wide counters a pass or query is charged. */
  final case class Snap(taskCpuNs: Long, tasks: Long, jit: Long, gc: Long,
      cgNs: Long, cgN: Long) {
    def delta(b: Snap): collection.Map[String, Any] = obj(
      "task_cpu_s" -> (taskCpuNs - b.taskCpuNs) / 1e9,
      "tasks" -> (tasks - b.tasks),
      "jit_s" -> (jit - b.jit) / 1e3,
      "gc_s" -> (gc - b.gc) / 1e3,
      "codegen_compile_s" -> (cgNs - b.cgNs) / 1e9,
      "codegen_classes" -> (cgN - b.cgN))
  }

  // ---- listeners ----------------------------------------------------
  /** Set by the driver thread; listeners record spans only while true. */
  @volatile var tracing = false
  val SpanKey = "perfbench.span"

  val taskCpuNs, tasks, inputBytes = new AtomicLong
  def snap: Snap = Snap(taskCpuNs.get, tasks.get, jitMs, gcMs, codegenNs, codegenClasses)

  val jobs = new ConcurrentHashMap[Int, collection.mutable.Map[String, Any]]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, collection.mutable.Map[String, Any]]()
  val plannings = new java.util.concurrent.ConcurrentLinkedQueue[collection.Map[String, Any]]()
  val streams = new ConcurrentHashMap[String, collection.mutable.Map[String, Any]]()

  private def add(m: collection.mutable.Map[String, Any], k: String, v: Double): Unit =
    m.synchronized { m(k) = m.getOrElse(k, 0.0).asInstanceOf[Double] + v }

  final class Tasks extends SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m == null) return
      taskCpuNs.addAndGet(m.executorCpuTime)
      tasks.incrementAndGet()
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      if (!tracing) return
      val st = stages.computeIfAbsent(te.stageId,
        id => collection.mutable.Map[String, Any]("stage" -> id))
      add(st, "tasks", 1)
      add(st, "task_busy_s", m.executorRunTime / 1e3)
      add(st, "cpu_s", m.executorCpuTime / 1e9)
      add(st, "gc_s", m.jvmGCTime / 1e3)
      add(st, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add(st, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add(st, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add(st, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(st, "output_mb", m.outputMetrics.bytesWritten / 1e6)
      add(st, "input_mb", m.inputMetrics.bytesRead / 1e6)
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = if (tracing) {
      val span = Option(js.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
      jobs.put(js.jobId, collection.mutable.Map("job" -> js.jobId,
        "start_ms" -> js.time.toDouble, "parent" -> span.getOrElse("")))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(j => j.synchronized { j("end_ms") = je.time.toDouble })
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (tracing) {
      val i = sc.stageInfo
      val st = stages.computeIfAbsent(i.stageId,
        id => collection.mutable.Map[String, Any]("stage" -> id))
      st.synchronized {
        st("job") = Option(stageJob.get(i.stageId)).map(_.toInt).getOrElse(-1)
        st("name") = i.name
        i.submissionTime.foreach(t => st("start_ms") = t.toDouble)
        i.completionTime.foreach(t => st("end_ms") = t.toDouble)
      }
    }
  }

  final class Planning extends QueryExecutionListener {
    private def rec(func: String, qe: QueryExecution, ok: Boolean): Unit = if (tracing) {
      val t = qe.tracker
      val rules = t.rules.collect { case (k, r) if k.endsWith("DepthOverlapRule") =>
        obj("time_s" -> r.totalTimeNs / 1e9, "invocations" -> r.numInvocations,
          "effective" -> r.numEffectiveInvocations)
      }
      plannings.add(obj("func" -> func, "ok" -> ok,
        "phases" -> t.phases.map { case (k, p) =>
          k -> obj("start_ms" -> p.startTimeMs.toDouble, "end_ms" -> p.endTimeMs.toDouble) },
        "depth_overlap" -> rules.headOption))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = rec(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = rec(func, qe, ok = false)
  }

  final class Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    private def iso(s: String): Double = java.time.Instant.parse(s).toEpochMilli.toDouble
    private def of(run: java.util.UUID) = streams.computeIfAbsent(run.toString,
      r => collection.mutable.Map[String, Any]("run" -> r, "batches" -> ArrayBuffer.empty[Any]))
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (tracing) {
      val s = of(e.runId)
      s.synchronized { s("start_ms") = iso(e.timestamp) }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (tracing) {
      val s = of(e.progress.runId)
      s.synchronized {
        s("batches").asInstanceOf[ArrayBuffer[Any]] += obj(
          "start_ms" -> iso(e.progress.timestamp), "s" -> e.progress.batchDuration / 1e3)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = if (tracing) {
      val s = of(e.runId)
      s.synchronized { s("end_ms") = nowMs }
    }
  }

  // ---- the workload ---------------------------------------------------
  def session(cpus: String, lake: String): (SparkSession, collection.Map[String, Any]) = {
    val t0 = nowMs
    val spark = graft.Bench.session(cpus)
    val t1 = nowMs
    listen(spark)
    val b0 = inputBytes.get
    graft.Tables.names.foreach(n => graft.Tables.load(spark, lake, n).count())
    val t2 = nowMs
    (spark, obj("session_s" -> (t1 - t0) / 1e3, "fill_s" -> (t2 - t1) / 1e3,
      "fill_input_mb" -> (inputBytes.get - b0) / 1e6))
  }

  def listen(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new Tasks)
    spark.listenerManager.register(new Planning)
    spark.streams.addListener(new Streams)
  }

  val MaxWindowS = 100.0

  def main(args: Array[String]): Unit = {
    val Array(outPath, lake, cpus, seedS, warmS, traceS, qs) = args
    val warm = warmS.toInt
    val seed = seedS.toLong
    val traced = traceS == "1"
    val queries = qs.split(",").toSeq
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // Set-up: JVM start until the session is ready with the base
    // tables cached.
    val (spark, fill) = session(cpus, lake)
    val setup = fill ++ obj("s" -> (nowMs - jvmStart) / 1e3)
    val storage = spark.sparkContext.getRDDStorageInfo
    val tables = obj(
      "cached_partitions" -> storage.map(_.numCachedPartitions).sum,
      "cached_mb" -> storage.map(_.memSize).sum / 1e6)

    val bench = graft.SparkEntry.benchQueries
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed)
    val passes = ArrayBuffer.empty[collection.Map[String, Any]]
    val windowStart = nowMs
    def elapsedS = (nowMs - windowStart) / 1e3

    def runPass(index: Int, trace: Boolean): collection.Map[String, Any] = {
      tracing = trace
      val order = rng.shuffle(queries)
      val pb = snap
      val p0 = nowMs
      val recs = order.map { q =>
        val id = s"p$index/$q"
        val qb = snap
        val t0 = nowMs
        var t1 = t0
        // The query's own analysis runs eagerly while it is built, so its
        // phase is read from the built DataFrame's tracker; the noop
        // write's tracker (see `Planning`) holds optimization and planning.
        var analysis: Option[collection.Map[String, Any]] = None
        val err = try {
          sc.setLocalProperty(SpanKey, s"$id/construct")
          val df = bench(q)(spark, lake)
          t1 = nowMs
          analysis = df.queryExecution.tracker.phases.get("analysis").map(p =>
            obj("start_ms" -> p.startTimeMs.toDouble, "end_ms" -> p.endTimeMs.toDouble))
          sc.setLocalProperty(SpanKey, s"$id/exec")
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        } finally sc.setLocalProperty(SpanKey, null)
        val t2 = nowMs
        if (t1 == t0) t1 = t2
        obj("name" -> q, "start_ms" -> t0, "construct_end_ms" -> t1, "end_ms" -> t2,
          "analysis" -> analysis, "error" -> err) ++ snap.delta(qb)
      }
      val p1 = nowMs
      org.apache.spark.perfbench.Drain(sc)
      tracing = false
      obj("index" -> index, "traced" -> trace, "start_ms" -> p0, "end_ms" -> p1,
        "wall_s" -> (p1 - p0) / 1e3, "queries" -> recs) ++ snap.delta(pb)
    }

    // Cold pass, then a fixed number of warm passes, so every run does
    // the same work. Only a host several times slower than the one the
    // workload was sized on meets the cut at `MaxWindowS`, which keeps
    // the run inside its exit deadline. A traced run alternates
    // untraced and traced warm passes, so the tracing cost is measured
    // within the run.
    passes += runPass(0, trace = traced) ++ obj("cold" -> true)
    var i = 1
    while (i <= warm && elapsedS < MaxWindowS) {
      passes += runPass(i, trace = traced && i % 2 == 0) ++ obj("cold" -> false)
      i += 1
    }
    val windowS = elapsedS

    // Heap after GC: Spark's ContextCleaner frees shuffle and broadcast
    // state only after a GC has queued their references, so collect a
    // few times and keep the lowest reading.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    // Output check, outside the timed window: every query once more in
    // the form that was timed, written as parquet for run.py to compare.
    val outDir = new java.io.File(outPath).getParentFile.getAbsolutePath + "/out"
    val checkStart = nowMs
    val checks = queries.sorted.map { q =>
      val err = try {
        bench(q)(spark, lake).write.mode("overwrite").parquet(s"$outDir/$q")
        None
      } catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
      obj("name" -> q, "path" -> s"$outDir/$q", "error" -> err)
    }
    val checkS = (nowMs - checkStart) / 1e3
    val kernels = if (traced) Kernels.probe(spark, seed) else Map.empty[String, Any]
    org.apache.spark.perfbench.Drain(sc)

    val twins = graft.SparkEntry.benchTwinNames.toSet
    val oracles = graft.SparkEntry.oracleSql
    val doc = obj(
      "setup" -> setup, "tables" -> tables, "window_s" -> windowS, "check_s" -> checkS,
      "passes" -> passes, "heap_used_mb" -> heapMb, "checks" -> checks,
      "twins" -> queries.filter(twins), "oracle_sql" -> oracles.filter(kv => queries.contains(kv._1)),
      "kernels" -> kernels, "slots" -> sc.defaultParallelism,
      "jobs" -> jobs.values.asScala.toSeq, "stages" -> stages.values.asScala.toSeq,
      "plannings" -> plannings.asScala.toSeq, "streams" -> streams.values.asScala.toSeq)
    json.writeValue(new java.io.File(outPath), doc)
    spark.stop()
  }
}
