package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TaskMetrics

/** The driver side of [[Bench]]: the per-query CPU/GC budget gate, the
  * one query measurement and the one JSON writer. */
class BenchSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val sf = tempDir("bench_sf").toString
  private def gate(lines: String*)(minCpuGc: (String, (Double, Double))*) =
    Bench.budgetViolations(lines, sf, minCpuGc.toMap)

  test("budget gate: over-budget CPU and GC are reported in budget-file order") {
    val (v, notes) = gate(s"# sf=$sf", "# query\tcpu\tgc", "q2\t1.0\t2", "q1\t5\t0.5")(
      "q1" -> (1.0, 0.75), "q2" -> (2.5004, 3.0))
    assert(v === Seq("q2" -> "cpu 2.5s > budget 1.0s; gc 3.0s > budget 2s",
      "q1" -> "gc 0.75s > budget 0.5s"))
    assert(notes.isEmpty)
  }

  test("budget gate: the header dir matches the run's on canonical paths") {
    val (v, notes) = gate(s"# sf=$sf/", "q1\t1\t1")("q1" -> (2.0, 0.0))
    assert(v === Seq("q1" -> "cpu 2.0s > budget 1s") && notes.isEmpty)
  }

  test("budget gate: a mismatched or missing header skips the gate with a note") {
    assert(gate("# sf=/elsewhere", "q1\t1\t1")("q1" -> (2.0, 0.0)) === (Nil, Seq(
      s"[bench] budgets skipped: header sf=/elsewhere does not match run sf=$sf")))
    assert(gate()("q1" -> (2.0, 0.0)) === (Nil, Seq(
      s"[bench] budgets skipped: header sf=<missing> does not match run sf=$sf")))
  }

  test("budget gate: a malformed line is skipped with a note, the rest still judged") {
    val (v, notes) = gate(s"# sf=$sf", "q1\tfast\t1", "q2\t1\t1", "q3 only")(
      "q1" -> (9.0, 9.0), "q2" -> (2.0, 0.0), "q3" -> (9.0, 9.0))
    assert(v === Seq("q2" -> "cpu 2.0s > budget 1s"))
    assert(notes === Seq("[bench] bad budget line skipped: q1\tfast\t1"))
  }

  test("budget gate: a budgeted query absent from the run is not judged") {
    assert(gate(s"# sf=$sf", "gone\t0\t0")("q1" -> (9.0, 9.0)) === (Nil, Nil))
  }

  test("TaskMetrics.measure drains the bus: every task of the query is charged to it") {
    val sc = spark.sparkContext
    val metrics = new TaskMetrics
    // a slow listener ahead of `metrics` on the shared queue: task-end
    // events reach `metrics` well after the job has returned
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    sc.addSparkListener(slow)
    sc.addSparkListener(metrics)
    try {
      val m = metrics.measure(sc)(
        spark.range(0, 8000, 1, 8).write.format("noop").mode("overwrite").save())
      assert(m.error.isEmpty)
      assert(m.sums.tasks === 8)
      assert(m.sums.cpuNs > 0)
      val failed = metrics.measure(sc)(throw new IllegalStateException("no\n  plan"))
      assert(failed.error === Some("IllegalStateException: no plan"))
    } finally { sc.removeSparkListener(metrics); sc.removeSparkListener(slow) }
  }

  test("Json.write keeps control chars, quotes and backslashes on one line, parsing back equal") {
    val err = "AnalysisException: a\tb\nc\u001b[31m \"q\" \\ d"
    val line = Json.write(ListMap("errors" -> ListMap("q1" -> err), "n" -> 1))
    assert(!line.exists(_ < ' '), line)
    val back = new ObjectMapper().readTree(line)
    assert(back.get("errors").get("q1").asText === err)
    assert(back.get("n").asInt === 1)
  }
}
