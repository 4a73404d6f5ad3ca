package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[GraftSession]]: a
  * second builder chain is how the confs drifted apart before. */
class GraftSessionSpec extends AnyFunSuite {

  test("no session builder under src/ outside GraftSession.scala") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def builds(p: Path): Boolean = Files.readString(p).contains(needle)
    val (factory, others) = sources.partition(_.getFileName.toString == "GraftSession.scala")
    assert(factory.nonEmpty && factory.forall(builds), "the factory itself was not found")
    val strays = others.filter(builds)
    assert(strays.isEmpty, s"builders outside the factory: ${strays.mkString(", ")}")
  }
}
