package graft

import java.nio.file.{Files, Path, Paths}

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

  /** Collect a DataFrame to a sorted Seq of Seq[Any] for assertion. */
  def rowsOf(d: DataFrame): Seq[Seq[Any]] =
    d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
}
