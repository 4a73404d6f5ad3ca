package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[GraftSession]]: a
  * second builder chain is how the confs drifted apart before. Every
  * checkpoint and every AQE / shuffle-partition scope goes through
  * `org.apache.spark.sql.graft.Materialize`, for the same reason. */
class GraftSessionSpec extends AnyFunSuite {

  private def scalaSources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq

  test("no session builder under src/ outside GraftSession.scala") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val sources = scalaSources("src")
    def builds(p: Path): Boolean = Files.readString(p).contains(needle)
    val (factory, others) = sources.partition(_.getFileName.toString == "GraftSession.scala")
    assert(factory.nonEmpty && factory.forall(builds), "the factory itself was not found")
    val strays = others.filter(builds)
    assert(strays.isEmpty, s"builders outside the factory: ${strays.mkString(", ")}")
  }

  test("checkpoints and AQE / shuffle-partition confs under src/main only in Materialize") {
    val needles = Seq(".localCheckpoint(", "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions", "SQLConf.ADAPTIVE_EXECUTION_ENABLED",
      "SQLConf.SHUFFLE_PARTITIONS")
    val sources = scalaSources("src/main")
    assert(sources.exists(_.getFileName.toString == "Materialize.scala"),
      "the module itself was not found")
    val strays = for {
      p <- sources if p.getFileName.toString != "Materialize.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      // the session builder's initial confs are not a scope
      if !(p.getFileName.toString == "GraftSession.scala" && code.contains(".config("))
      if needles.exists(code.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(strays.isEmpty, s"materialization outside Materialize:\n${strays.mkString("\n")}")
  }
}
