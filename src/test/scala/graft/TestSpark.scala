package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One shared local SparkSession for the whole test run: the mains'
  * [[GraftSession]] at 4 cores, so every test runs under the same
  * optimizer rules (DepthOverlapRule included) and confs. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)

  def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** A fresh directory under the context's scratch root, deleted with
    * it when the context stops or the JVM exits. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(
    Files.createDirectories(Paths.get(GraftSession.scratch(spark, "tmp", "tests"))),
    prefix)

  /** Run `body` in a [[Bench.session]] over a fresh copy of `lake`, so
    * no memo an uncached run left for `lake` is reused. The test JVM has
    * one context, so the session is `spark` with table caching switched
    * on for the context; it is switched off again, and the copy's
    * tables unpersisted, when `body` returns or throws. */
  def inCachedSession[T](lake: String)(body: (SparkSession, String) => T): T = {
    val src = Paths.get(lake)
    val copy = tempDir("graft_cached_lake")
    Files.walk(src).iterator().asScala.foreach { f =>
      val dst = copy.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    val dir = copy.toString
    val cached = Bench.session("4")
    try body(cached, dir)
    finally {
      GraftSession.state(spark).cacheTables = false
      GraftSession.forget(spark, dir)
    }
  }

  /** Collect a DataFrame to a sorted Seq of Seq[Any] for assertion. */
  def rowsOf(d: DataFrame): Seq[Seq[Any]] =
    d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
}
