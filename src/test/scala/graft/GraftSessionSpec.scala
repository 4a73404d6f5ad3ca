package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point builds its session through [[GraftSession]]: a
  * second builder chain is how the confs drifted apart before. Every
  * checkpoint and every AQE / shuffle-partition scope goes through
  * `org.apache.spark.sql.graft.Materialize`, every memo and scratch
  * root through [[GraftSession]]'s state, every ANN top-k through
  * `Ranked.topK`, and every driver artifact through the one JSON
  * writer, for the same reason. */
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

  /** `file:line: text` of each non-comment line under src/main outside
    * `owner` that contains a needle. */
  private def strays(owner: String, needles: Seq[String],
      exempt: (String, String) => Boolean = (_, _) => false): Seq[String] = {
    val sources = scalaSources("src/main")
    assert(sources.exists(_.getFileName.toString == owner), s"$owner was not found")
    for {
      p <- sources if p.getFileName.toString != owner
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if !exempt(p.getFileName.toString, code)
      if needles.exists(code.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("checkpoints and AQE / shuffle-partition confs under src/main only in Materialize") {
    val found = strays("Materialize.scala", Seq(".localCheckpoint(",
      "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "SQLConf.ADAPTIVE_EXECUTION_ENABLED", "SQLConf.SHUFFLE_PARTITIONS"),
      // the session builder's initial confs are not a scope
      (file, code) => file == "GraftSession.scala" && code.contains(".config("))
    assert(found.isEmpty, s"materialization outside Materialize:\n${found.mkString("\n")}")
  }

  test("Dataset caches under src/main only through Materialize and the Tables cache fill") {
    val found = strays("Materialize.scala", Seq(".persist(", ".cache()"),
      (file, code) => file == "Tables.scala" && code.contains(".cache()"))
    assert(found.isEmpty, s"raw caches outside Materialize:\n${found.mkString("\n")}")
  }

  test("top-k windows in graft/ann and Decontam only through Ranked.topK") {
    val scope = scalaSources("src/main/scala/graft/ann") :+
      Paths.get("src/main/scala/graft/pipeline/Decontam.scala")
    val found = for {
      p <- scope
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("row_number(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(found.isEmpty, s"top-k windows outside Ranked.topK:\n${found.mkString("\n")}")
  }

  test("driver artifacts under src/main only through the Jackson writer in Json.scala") {
    val found = strays("Json.scala", Seq("Json.str(", "mkString(\"{\""))
    assert(found.isEmpty, s"hand-built JSON:\n${found.mkString("\n")}")
  }

  test("struct arg-max picks under src/main only through ArgBest") {
    // max_by / min_by over a struct, and max / min of one, hash-aggregate
    // only as ArgBest's flat buffer; calls may span lines
    val overStruct = """\b(max_by|min_by)\(""".r
    val ofStruct = """\b(max|min)\(\s*(named_)?struct\(""".r
    val sources = scalaSources("src/main")
    assert(sources.exists(_.getFileName.toString == "ArgBest.scala"), "ArgBest.scala was not found")
    val found = for {
      p <- sources if p.getFileName.toString != "ArgBest.scala"
      code = Files.readAllLines(p).asScala.map { line =>
        val c = line.split("//", 2)(0)
        if (c.trim.startsWith("*") || c.trim.startsWith("/*")) "" else c
      }.mkString("\n")
      m <- overStruct.findAllMatchIn(code).filter(m => argsAt(code, m.end).contains("struct(")) ++
        ofStruct.findAllMatchIn(code)
    } yield s"$p:${code.take(m.start).count(_ == '\n') + 1}"
    assert(found.isEmpty, s"struct picks outside ArgBest:\n${found.mkString("\n")}")
  }

  /** `code` from `from` to the parenthesis closing the one just before it. */
  private def argsAt(code: String, from: Int): String = {
    var (depth, i) = (1, from)
    while (i < code.length && depth > 0) {
      if (code(i) == '(') depth += 1 else if (code(i) == ')') depth -= 1
      i += 1
    }
    code.substring(from, i)
  }

  test("memos and scratch roots under src/main only in GraftSession") {
    assert(!Files.exists(Paths.get("src/main/scala/graft/io/TmpRoots.scala")))
    val found = strays("GraftSession.scala", Seq("TrieMap", "identityHashCode",
      "cleanupOnExit", "TmpRoots", "\"/tmp"))
    assert(found.isEmpty, s"session state outside GraftSession:\n${found.mkString("\n")}")
  }
}
