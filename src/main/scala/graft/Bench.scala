package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import org.apache.spark.sql.SparkSession

import graft.tools.TaskMetrics

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries are forced
  * through a noop sink (full evaluation — a count() would let Catalyst
  * prune projection-only queries down to a metadata scan). A warmup
  * action first pays JIT/classloading so per-query numbers are
  * comparable. */
object Bench {

  /** The benchmark session: [[GraftSession]] plus cached base tables —
    * a multi-query batch session reuses them, exactly the reference's
    * CreateSoilMaps loop pattern (SURVEY §3). StageProbe times single
    * queries in this same session. */
  def session(cpus: String): SparkSession = {
    val spark = GraftSession.build(cpus.toInt)
    GraftSession.state(spark).cacheTables = true
    spark
  }

  /** Full evaluation of a registered query through the noop sink.
    * Gate-heavy queries time their operator-only benchPlans twin —
    * see [[SparkEntry.benchQueries]]; correctness (Verify) always
    * runs the full gated form. */
  def runNoop(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.benchQueries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** Per-query CPU+GC budget gate (r14: a 1.13× battery drift on
    * unchanged queries went unnoticed). `budget` is bench_budgets.tsv
    * (scripts/gen_budgets.py): a `# sf=<dir>` header, then
    * `query<TAB>cpu_s<TAB>gc_s`. It applies only when the header dir is
    * `sfDir` on canonical paths (a trailing slash or symlink must not
    * disable it; sf1 runs aren't judged against sf0.1 numbers).
    * `minCpuGc` holds each query's minimum cpu/gc seconds across runs.
    * Returns the violations (query → text, in file order) and the notes
    * for stderr: a skipped gate, or a malformed line skipped. */
  private[graft] def budgetViolations(budget: Seq[String], sfDir: String,
      minCpuGc: Map[String, (Double, Double)]): (Seq[(String, String)], Seq[String]) = {
    def canon(p: String): String =
      try Paths.get(p).toRealPath().toString
      catch { case _: Exception => p.stripSuffix("/") }
    val headerSf = budget.headOption.map(_.trim.stripPrefix("# sf="))
    if (!headerSf.exists(h => canon(h) == canon(sfDir)))
      (Nil, Seq(s"[bench] budgets skipped: header sf=" +
        s"${headerSf.getOrElse("<missing>")} does not match run sf=$sfDir"))
    else {
      val checked = budget.filterNot(_.startsWith("#")).map { ln =>
        ln.split("\t") match {
          case Array(name, cpuB, gcB) =>
            (Try(cpuB.toDouble), Try(gcB.toDouble)) match {
              case (Success(cb), Success(gb)) =>
                val over = minCpuGc.get(name).toSeq.flatMap { case (cpu, gc) =>
                  Seq(if (cpu > cb) Some(s"cpu ${r3(cpu)}s > budget ${cpuB}s") else None,
                    if (gc > gb) Some(s"gc ${r3(gc)}s > budget ${gcB}s") else None).flatten
                }
                (Option.when(over.nonEmpty)(name -> over.mkString("; ")), None)
              case _ => (None, Some(s"[bench] bad budget line skipped: $ln"))
            }
          case _ => (None, None)
        }
      }
      (checked.flatMap(_._1), checked.flatMap(_._2))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(GraftSession.envCpus.toString)
    val metrics = new TaskMetrics
    spark.sparkContext.addSparkListener(metrics)

    // Warmup: one pass of the WHOLE suite at the smallest SF (same
    // schemas → janino cache hits; JIT + parquet footers too), so the
    // timed loop measures steady-state operator cost, not first-compile
    // latency (d07 was ~85% codegen in r4 probes). Every query still
    // fully evaluates its own sfDir data below.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      names.foreach { name =>
        try runNoop(spark, warmDir, name) catch { case _: Throwable => () }
      }
      // Release the warmup's state before timing: its cached tables,
      // landings and checkpoint/broadcast blocks otherwise bleed
      // eviction + async ContextCleaner work into the first timed
      // queries (measured: the early a-family inflated 2→8-16 s with
      // warmup residue live).
      GraftSession.forget(spark, warmDir)
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(2000)
      // one post-flush pass at sfDir: footers + base-table cache
      // materialization land here, not on the first timed query
      try runNoop(spark, sfDir, "q1_agg") catch { case _: Throwable => () }
    }
    else try runNoop(spark, sfDir, "q1_agg") catch { case _: Throwable => () }

    // Best-of-N (default 3): the minimum total is the least-contended
    // window (±25-40% host noise has faked regressions); EVERY run's
    // per-query records and load average ship alongside, so a noisy
    // record is self-diagnosing from the artifact alone.
    val runs = GraftSession.envInt("SPARK_GRAFT_BENCH_RUNS", 3)
    val allRuns = (1 to runs).map { _ =>
      val la = loadAvg
      val s0 = metrics.totals
      val recs = names.map(n => n -> metrics.measure(spark.sparkContext)(runNoop(spark, sfDir, n)))
      (recs, la, metrics.totals - s0)
    }
    val totals = allRuns.map(_._1.map(_._2.wallS).sum)
    val results = allRuns(totals.indexOf(totals.min))._1
    // transient-proof per-query records: each query's min-wall run
    // across ALL runs (the best-TOTAL run can still hold a contention
    // transient). Its CPU and GC seconds let a contended window be read
    // by CPU: contention inflates wall with CPU flat, code moves both.
    val byName = allRuns.flatMap(_._1).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._2) }
    val best = byName.map { case (k, ms) => k -> ms.minBy(_.wallS) }
    def perQuery(f: TaskMetrics.Measured => Double) =
      ListMap(best.map { case (k, m) => k -> r3(f(m)) }: _*)
    // errors are deterministic (analysis-time) so the best run's set is
    // the run's set; a non-empty set fails the process exit code
    val errors = results.collect { case (k, TaskMetrics.Measured(_, _, Some(e))) => k -> e }
    // a budget violation is LOUD (artifact + stderr; exit 3 only under
    // SPARK_GRAFT_BUDGET_STRICT=1): a contended host inflates CPU ~1.4×
    // through SMT, and the gate must flag code, not hosts
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BUDGETS", "bench_budgets.tsv")
    val (violations, notes) =
      if (!Files.isReadable(Paths.get(budgetPath)))
        (Nil, Seq(s"[bench] budgets skipped: $budgetPath not readable"))
      else budgetViolations(Files.readAllLines(Paths.get(budgetPath)).asScala.toSeq, sfDir,
        byName.map { case (k, ms) =>
          k -> (ms.map(_.sums.cpuNs).min / 1e9, ms.map(_.sums.gcMs).min / 1e3)
        }.toMap)
    notes.foreach(System.err.println)
    violations.foreach { case (k, v) => System.err.println(s"[bench] BUDGET VIOLATION $k: $v") }
    // cache residency at end of the timed runs: eviction shows up as
    // disk > 0 or total ≪ the expected working set
    val rdds = spark.sparkContext.getRDDStorageInfo
    val line = Json.write(ListMap(
      "metric" -> "total", "value" -> totals.min, "unit" -> "sec",
      // CPU-normalized headline beside wall: the sum of each query's
      // best-run executor-CPU seconds. Wall depends on the VM's mood
      // (load-3+ windows have twice faked regressions); CPU tracks code
      "total_cpu" -> r3(best.map(_._2.sums.cpuNs / 1e9).sum),
      "twin_swapped" -> SparkEntry.benchTwinNames,
      "queries" -> ListMap(results.map { case (k, m) => k -> m.wallS }: _*),
      "queries_best" -> perQuery(_.wallS),
      "queries_cpu" -> perQuery(_.sums.cpuNs / 1e9),
      "queries_gc" -> perQuery(_.sums.gcMs / 1e3),
      "errors" -> ListMap(errors: _*), "error_count" -> errors.size,
      "budget_violations" -> ListMap(violations: _*),
      "run_totals" -> totals, "load_avg" -> loadAvg,
      // per-run diagnostics: each query as [wall, taskRun, cpu, gc] (s) —
      // taskRun ≫ wall×cores ⇒ stragglers; wall up with cpu flat ⇒
      // neighbor contention; gc up ⇒ heap pressure (cache churn)
      "runs" -> allRuns.map { case (recs, la, d) => ListMap(
        "total" -> r3(recs.map(_._2.wallS).sum), "load_avg" -> la,
        "task_sec" -> r3(d.runMs / 1e3), "cpu_sec" -> r3(d.cpuNs / 1e9),
        "gc_sec" -> r3(d.gcMs / 1e3), "spill_mb" -> r3(d.spillBytes / 1e6),
        "queries" -> ListMap(recs.map { case (k, m) =>
          k -> Seq(m.wallS, m.sums.runMs / 1e3, m.sums.cpuNs / 1e9, m.sums.gcMs / 1e3).map(r3)
        }: _*))
      },
      "cache" -> ListMap("n_rdds" -> rdds.length,
        "mem_mb" -> r3(rdds.map(_.memSize).sum / 1e6),
        "disk_mb" -> r3(rdds.map(_.diskSize).sum / 1e6)),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "sf" -> sfDir))
    // the artifact of record also goes to a FILE (stdout tails have been
    // truncated mid-line by log interleaving), stdout first: a bad
    // SPARK_GRAFT_BENCH_OUT path must not cost the timings on both
    println(line)
    System.out.flush()
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try Files.writeString(Paths.get(outPath), line + "\n")
    catch { case e: java.io.IOException => System.err.println(s"[bench] artifact write failed: $e") }
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, e) => System.err.println(s"[bench] FAILED $k: $e") }
      sys.exit(1)
    }
    if (violations.nonEmpty && sys.env.get("SPARK_GRAFT_BUDGET_STRICT").contains("1"))
      sys.exit(3)
  }
}
