package graft.tools

/** Debug main: run named queries eagerly with a full stack trace on
  * failure (Verify truncates to the message — useless for resolution
  * errors deep in Catalyst). */
object RunOne {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for (n <- args) {
      println(s"===== $n =====")
      try graft.SparkEntry.queries(n)(spark, dir).show(30, false)
      catch { case e: Throwable => e.printStackTrace() }
    }
    spark.stop()
  }
}
