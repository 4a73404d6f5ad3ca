package graft.tools

import scala.util.matching.Regex

import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection main: prints the formatted physical plan of the
  * named queries (or a default set) — the `.explain("formatted")`
  * feedback loop for pushdown / broadcast / codegen review. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("f02_comppct_cutoff", "a03_dominant_condition",
        "a18_hz_wta_sum", "s08_rating_raster_join", "j13_merged_rating_tables")
    // SPARK_GRAFT_BENCH_FORM=1 explains the bench twin where one exists
    // (what graft.Bench actually times); SPARK_GRAFT_PLAN_OUT writes
    // each query's plan to <dir>/<name>_<suffix>.txt for the committed
    // plans/rNN evidence instead of stdout.
    val qmap =
      if (sys.env.get("SPARK_GRAFT_BENCH_FORM").contains("1"))
        graft.SparkEntry.benchQueries
      else graft.SparkEntry.queries
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    for (n <- names) {
      val df = qmap(n)(spark, dir)
      // SPARK_GRAFT_EXECUTE=1: execute THIS queryExecution first (a
      // noop write would spawn its own QueryExecution and leave this
      // one unfinalized) so the formatted plan is the FINAL adaptive
      // plan (AQE join rewrites, coalesced reads), not the initial one.
      if (sys.env.get("SPARK_GRAFT_EXECUTE").contains("1"))
        df.queryExecution.toRdd.foreach(_ => ())
      val plan = stable(df.queryExecution.explainString(FormattedMode))
      outDir match {
        case Some(d) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"${n}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[explain] wrote $d/${n}_$suffix.txt")
        case None =>
          println(s"\n===== $n =====")
          println(plan)
      }
    }
    spark.stop()
  }

  /** `plan` with each JVM lambda class name (`Multimodal$$$Lambda$6383/0x…@47e6fa81`,
    * new on every run) cut to `$$Lambda`, so two dumps of the same code
    * compare equal. */
  private[graft] def stable(plan: String): String =
    plan.replaceAll("""\$\$Lambda[$/\w]*@[0-9a-f]+""", Regex.quoteReplacement("$$Lambda"))
}
