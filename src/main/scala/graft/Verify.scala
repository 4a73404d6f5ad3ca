package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex over query names, for fast local iteration
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    // cold: base tables are read per query, never cached
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Per-query failures are recorded in errors.json so a query that is
    // registered but absent from the dump is distinguishable from one
    // that passed — round 5's events regression silently shrank the
    // battery from 170 to 151 with no artifact trace.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          errors(name) = tools.TaskMetrics.failure(e)
          System.err.println(s"[verify] $name FAILED: ${errors(name)}")
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (k, _) => keep(k) }))
    Files.writeString(Paths.get(s"$outDir/errors.json"), Json.write(errors))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} of ${SparkEntry.queries.size} queries FAILED")
    spark.stop()
  }
}
