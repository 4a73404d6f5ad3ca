package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{SparkContext, SparkFiles}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one session configuration behind every entry point — Bench,
  * Verify, Explain, RunOne, ContractCheck, StageProbe and the test
  * suite — so a plan dumped, a query verified and a query timed all run
  * under the same optimizer rules, partitioning, timezone and codegen
  * cache. It also owns the state a long-lived session builds up:
  * memoized landings and plans, cached base tables, scratch roots
  * ([[memo]], [[scratch]], [[forget]]; see [[State]]). Caching the base
  * tables stays the caller's decision: [[Bench.session]] turns it on,
  * Verify runs cold. */
object GraftSession {

  /** A positive integer from environment variable `name`, or `default`
    * when it is unset; anything else fails naming the variable. */
  def envInt(name: String, default: Int): Int =
    parseEnvInt(name, sys.env.get(name), default)

  private[graft] def parseEnvInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer >= 1, got '$v'"))
    }

  /** `SPARK_GRAFT_CPUS` (default 4): the local core count of every main. */
  def envCpus: Int = envInt("SPARK_GRAFT_CPUS", 4)

  def build(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // tolerate the TIMESTAMP(NANOS) events vintage (read as long,
      // converted in Tables.normalizeTs); harmless for MICROS lakes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The 248-query battery carries far more distinct whole-stage
      // codegen units than the default 100-entry compiled-class cache
      // (p10 alone plans 104 leg sources): under the default, every
      // query's units are evicted between reps and TASKS re-compile
      // them concurrently — StageProbe measured p10's steady-state
      // stage at 146 cpu-s vs 6.7 with a hit, a random 2-20× per-rep
      // wall swing that twice masqueraded as noise windows. Static
      // conf, read once at first codegen; sized to hold the whole
      // suite's working set (metaspace cost ~a few hundred MB). The
      // same cache exists per executor at scale — any long-lived
      // session serving a wide query mix wants this over the default.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `compute`'s value for (`tag`, `dir`) in `s`'s [[State]]. */
  def memo[A](s: SparkSession, tag: String, dir: String)(compute: => A): A =
    state(s).memo(tag, dir)(compute)

  /** A scratch path for (`tag`, `dir`) in `s`'s [[State]]. */
  def scratch(s: SparkSession, tag: String, dir: String): String =
    state(s).scratch(tag, dir)

  /** [[scratch]] for (`tag`, `dir`), emptied through its Hadoop
    * filesystem: a run that must start fresh (a stale checkpoint would
    * replay nothing, a stale lake could mask a code change). */
  def freshScratch(s: SparkSession, tag: String, dir: String): String = {
    val path = scratch(s, tag, dir)
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  /** Drop every memo and scratch root of `dir` in `s`'s [[State]]. */
  def forget(s: SparkSession, dir: String): Unit = state(s).forget(dir)

  private val states = new ConcurrentHashMap[SparkContext, State]()

  /** The state of `s`'s SparkContext, made on first use; a listener
    * releases it when that context stops. */
  private[graft] def state(s: SparkSession): State =
    states.computeIfAbsent(s.sparkContext, { sc =>
      // stop() sets isStopped before it posts ApplicationEnd, so a state
      // made here is always seen by the listener below
      if (sc.isStopped) throw new IllegalStateException("SparkContext is stopped")
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          Option(states.remove(sc)).foreach(_.release())
      })
      new State(new File(SparkFiles.getRootDirectory(), "graft").getAbsolutePath)
    })

  /** What a SparkContext builds up across queries: memoized values
    * (landings, plans, row counts, cached base tables) and scratch
    * roots, each keyed by a tag and the table directory it derives
    * from.
    *
    * Lifetime: one State per SparkContext, shared by every session on
    * it — a session and its `newSession()` children see the same
    * values, as they share the CacheManager. When the context stops
    * the State is released: its memos are dropped, memoized Datasets
    * unpersisted, and its scratch root deleted. A context built later
    * in the same JVM starts empty. [[forget]] does the same for one
    * directory while the context runs.
    *
    * Nesting: a `compute` may call [[memo]] for another key (n24's
    * landing reads `Tables.rowCount`); each key fills at most once at a
    * time, under concurrency too. A `compute` that throws caches
    * nothing and runs again on the next call. A `compute` must not ask
    * for its own key.
    *
    * Scratch is driver-local: the root lives in Spark's driver temp
    * dir (`SparkFiles.getRootDirectory()`, under `SPARK_LOCAL_DIRS`,
    * `spark.local.dir` or `java.io.tmpdir`), which Spark deletes when
    * the context stops or the JVM exits. A cluster deployment whose
    * executors write landings needs `spark.local.dir` on a filesystem
    * they share with the driver. */
  private[graft] final class State(root: String) {

    /** Base tables are cached in this context ([[Tables.load]]). */
    @volatile var cacheTables = false

    private val cells = new ConcurrentHashMap[(String, String), Cell]()

    def memo[A](tag: String, dir: String)(compute: => A): A = {
      val key = (tag, dir)
      val cell = cells.computeIfAbsent(key, _ => new Cell(compute))
      try cell.value.asInstanceOf[A]
      catch { case NonFatal(e) => cells.remove(key, cell); throw e }
    }

    def scratch(tag: String, dir: String): String = s"$root/${slug(dir)}/$tag"

    def forget(dir: String): Unit = {
      drop(_._2 == dir)
      deleteRec(new File(root, slug(dir)))
    }

    /** Called when the context stops. */
    def release(): Unit = {
      drop(_ => true)
      deleteRec(new File(root))
    }

    private def drop(which: ((String, String)) => Boolean): Unit =
      cells.keySet.asScala.filter(which).foreach { k =>
        Option(cells.remove(k)).flatMap(_.filled).foreach {
          case d: Dataset[_] =>
            try d.unpersist(blocking = false) catch { case NonFatal(_) => () }
          case _ => ()
        }
      }

    private def slug(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

    private def deleteRec(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }
  }

  /** One memo slot: the lazy val fills once, and a fill that throws
    * leaves it empty. */
  private final class Cell(compute: => Any) {
    @volatile private var done = false
    lazy val value: Any = { val v = compute; done = true; v }
    def filled: Option[Any] = if (done) Some(value) else None
  }
}
