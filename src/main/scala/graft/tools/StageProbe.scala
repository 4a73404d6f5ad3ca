package graft.tools

/** Single-query timing main in graft.Bench's exact session. Args: query
  * names; each runs `SPARK_GRAFT_REPS` times (default 2 — the first rep
  * pays JIT/planning). Every rep prints its totals (wall / task-run /
  * CPU / GC / tasks / shuffle bytes); the LAST rep (every rep under
  * `SPARK_GRAFT_PROBE_ALL=1`, to diff a slow rep against a fast one)
  * then prints one line per stage — task-run / CPU / GC / fetch-wait /
  * input / shuffle / spill — so a wall-vs-cpu gap is attributed to a
  * specific exchange or scan (guide §7.1's stage page, rebuilt from
  * listener events for the UI-less bench environment). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = graft.GraftSession.envInt("SPARK_GRAFT_REPS", 2)
    val probeAll = sys.env.get("SPARK_GRAFT_PROBE_ALL").contains("1")
    val spark = graft.Bench.session(graft.GraftSession.envCpus.toString)
    val metrics = new TaskMetrics
    spark.sparkContext.addSparkListener(metrics)
    for (name <- args; r <- 1 to reps) {
      val m = metrics.measure(spark.sparkContext)(graft.Bench.runNoop(spark, sfDir, name))
      val d = m.sums
      println(f"[stageprobe] $name rep$r: ${m.wallS}%.2f s" +
        f" task=${d.runMs / 1e3}%.2f cpu=${d.cpuNs / 1e9}%.2f gc=${d.gcMs / 1e3}%.2f" +
        f" tasks=${d.tasks}%d" +
        f" shuffle_rw_mb=[${d.shuffleReadBytes / 1e6}%.1f,${d.shuffleWriteBytes / 1e6}%.1f]" +
        m.error.fold("")(e => s" FAILED $e"))
      if (r == reps || probeAll)
        for ((id, stage, a) <- metrics.stageTable)
          println(f"  stage $id%5d task=${a.runMs / 1e3}%7.2f cpu=${a.cpuNs / 1e9}%7.2f" +
            f" gc=${a.gcMs / 1e3}%5.2f fetch=${a.fetchWaitMs / 1e3}%5.2f" +
            f" in=${a.inputBytes / 1e6}%7.1f shr=${a.shuffleReadBytes / 1e6}%6.1f" +
            f" shw=${a.shuffleWriteBytes / 1e6}%6.1f spill=${a.spillBytes / 1e6}%6.1f" +
            f" n=${a.tasks}%4d maxTask=${a.maxTaskMs / 1e3}%6.2f  $stage%s")
    }
    spark.stop()
  }
}
