package graft.tools

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Task-end metrics of a session — the one listener behind Bench's
  * per-query wall-vs-CPU split (contention inflates wall with CPU flat;
  * a code regression moves both) and StageProbe's stage table. Totals
  * only grow: diff two [[totals]] snapshots to charge a span of work;
  * [[measure]] charges one query. Each [[measure]] clears the per-stage
  * aggregates, so a long-lived session does not grow them. */
final class TaskMetrics extends SparkListener {
  import TaskMetrics.{Measured, Sums}

  private var total = Sums()
  private val stages = mutable.Map.empty[Int, (String, Sums)] // id → (name, sums)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val s = Sums(1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.executorRunTime)
      // keyed by stageId only: a retried stage attempt's tasks sum into
      // the same aggregate (retries are absent in local mode, and a
      // retry inflating its stage's totals is itself a signal)
      synchronized {
        total += s
        val (name, sums) = stages.getOrElse(te.stageId, ("", Sums()))
        stages(te.stageId) = (name, sums + s)
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val id = sc.stageInfo.stageId
    // the call-site stage name is useless under AQE (every stage
    // submits from the same CompletableFuture thread) — name the stage
    // by its RDDs' operator SCOPES instead (WholeStageCodegen ids match
    // the numbered plan; Exchange/Sort/etc. name the rest)
    val ops = sc.stageInfo.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(",")
    val name = (if (ops.nonEmpty) ops else sc.stageInfo.name.takeWhile(_ != '\n')).take(110)
    stages.get(id).foreach { case (_, sums) => stages(id) = (name, sums) }
  }

  def totals: Sums = synchronized(total)

  /** (stage id, name, sums) of every stage since the last [[measure]]
    * began, by task time descending. */
  def stageTable: Seq[(Int, String, Sums)] = synchronized {
    stages.toSeq.map { case (id, (name, s)) => (id, name, s) }
  }.sortBy(-_._3.runMs)

  private def resetStages(): Unit = synchronized(stages.clear())

  /** Run `body` as one query on `sc`, where this listener is added: its
    * wall seconds, task totals and failure text. The bus is drained after
    * the wall time and before the totals: task-end events arrive late,
    * and would otherwise be charged to the next query. */
  def measure(sc: SparkContext)(body: => Unit): Measured = {
    resetStages()
    val before = totals
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(TaskMetrics.failure(e)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    ListenerDrain.drain(sc)
    Measured(wallS, totals - before, err)
  }
}

object TaskMetrics {

  /** One query's [[TaskMetrics.measure]]: `error` is None when it ran. */
  final case class Measured(wallS: Double, sums: Sums, error: Option[String])

  /** A failed query as one short line: it must surface in an artifact
    * as an error, never as a 2 ms "success". */
  def failure(e: Throwable): String = s"${e.getClass.getSimpleName}: " +
    Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)

  /** Summed task metrics (ms / ns / bytes as Spark reports them).
    * `maxTaskMs` is the longest single task — a max, not a sum, so a
    * difference of two snapshots keeps the later value. */
  final case class Sums(
      tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      spillBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
      fetchWaitMs: Long = 0, maxTaskMs: Long = 0) {

    def +(o: Sums): Sums = zip(o)(_ + _).copy(maxTaskMs = maxTaskMs max o.maxTaskMs)
    def -(o: Sums): Sums = zip(o)(_ - _).copy(maxTaskMs = maxTaskMs)

    private def zip(o: Sums)(f: (Long, Long) => Long) = Sums(f(tasks, o.tasks),
      f(runMs, o.runMs), f(cpuNs, o.cpuNs), f(gcMs, o.gcMs),
      f(spillBytes, o.spillBytes), f(shuffleReadBytes, o.shuffleReadBytes),
      f(shuffleWriteBytes, o.shuffleWriteBytes), f(inputBytes, o.inputBytes),
      f(fetchWaitMs, o.fetchWaitMs))
  }
}
