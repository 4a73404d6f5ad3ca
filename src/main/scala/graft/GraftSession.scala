package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration behind every entry point — Bench,
  * Verify, Explain, RunOne, ContractCheck, StageProbe and the test
  * suite — so a plan dumped, a query verified and a query timed all run
  * under the same optimizer rules, partitioning, timezone and codegen
  * cache. Caching the base tables stays the caller's decision
  * ([[Tables.enableCache]]; [[Bench.session]] turns it on, Verify runs
  * cold). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` (default 4): the local core count of every main. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def build(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // tolerate the TIMESTAMP(NANOS) events vintage (read as long,
      // converted in Tables.normalizeTs); harmless for MICROS lakes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The 248-query battery carries far more distinct whole-stage
      // codegen units than the default 100-entry compiled-class cache
      // (p10 alone plans 104 leg sources): under the default, every
      // query's units are evicted between reps and TASKS re-compile
      // them concurrently — StageProbe measured p10's steady-state
      // stage at 146 cpu-s vs 6.7 with a hit, a random 2-20× per-rep
      // wall swing that twice masqueraded as noise windows. Static
      // conf, read once at first codegen; sized to hold the whole
      // suite's working set (metaspace cost ~a few hundred MB). The
      // same cache exists per executor at scale — any long-lived
      // session serving a wide query mix wants this over the default.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
