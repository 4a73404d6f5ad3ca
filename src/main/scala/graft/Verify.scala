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
          val msg = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)
          errors(name) = msg
          System.err.println(s"[verify] $name FAILED: $msg")
        }
    }
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} of ${SparkEntry.queries.size} queries FAILED")
    spark.stop()
  }
}
