package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkFiles
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]]'s per-context state: one fill per key under
  * concurrency and nesting, release on context stop, one state shared
  * by a session and its children — plus the integer env-var parser. */
class SessionStateSpec extends AnyFunSuite {
  import TestSpark._

  private def freshState(): GraftSession.State =
    new GraftSession.State(tempDir("graft_state").toString)

  test("memo: 8 threads on one key run compute exactly once") {
    val st = freshState()
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          st.memo("k", "d") { runs.incrementAndGet(); Thread.sleep(100); new Object }
        })
      }
      start.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS))
      assert(runs.get === 1)
      assert(values.distinct.size === 1)
    } finally pool.shutdownNow()
  }

  test("memo: a memo called inside another memo's compute fills both") {
    val st = freshState()
    for (i <- 0 until 200) {
      val got = st.memo(s"outer$i", "d")(st.memo(s"inner$i", "d")(i) + 1)
      assert(got === i + 1)
      assert(st.memo(s"inner$i", "d")(-1) === i)
    }
  }

  test("memo: a compute that throws is re-run on the next call") {
    val st = freshState()
    val runs = new AtomicInteger()
    intercept[IllegalStateException] {
      st.memo("k", "d") { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(st.memo("k", "d") { runs.incrementAndGet(); 7 } === 7)
    assert(runs.get === 2)
  }

  test("release drops memoized values and deletes the scratch root") {
    val root = tempDir("graft_release")
    val st = new GraftSession.State(root.toString)
    val landed = Paths.get(st.scratch("land", "d"))
    Files.createDirectories(landed)
    Files.writeString(landed.resolve("part"), "x")
    val ref = new WeakReference(st.memo("big", "d")(new Array[Byte](1 << 20)))
    st.release()
    assert(!Files.exists(root))
    var tries = 0
    while (ref.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(ref.get == null, "the released value is still reachable")
  }

  test("forget drops one dir's memos and scratch, and leaves the others") {
    val st = freshState()
    Files.createDirectories(Paths.get(st.scratch("land", "a")))
    Files.createDirectories(Paths.get(st.scratch("land", "b")))
    st.memo("k", "a")(1)
    st.memo("k", "b")(1)
    st.forget("a")
    assert(!Files.exists(Paths.get(st.scratch("land", "a"))))
    assert(Files.exists(Paths.get(st.scratch("land", "b"))))
    assert(st.memo("k", "a")(2) === 2)
    assert(st.memo("k", "b")(2) === 1)
  }

  test("scratch lives under SparkFiles' root, one path per (tag, dir)") {
    val root = Paths.get(SparkFiles.getRootDirectory()).toAbsolutePath
    val paths = for (t <- Seq("x", "y"); d <- Seq("/a/b", "/a/c"))
      yield GraftSession.scratch(spark, t, d)
    assert(paths.distinct.size === 4)
    paths.foreach(p => assert(Paths.get(p).startsWith(root), p))
  }

  test("a newSession() child shares its parent's memos") {
    val v = GraftSession.memo(spark, "shared", "spec")(new Object)
    assert(GraftSession.memo(spark.newSession(), "shared", "spec")(new Object) eq v)
  }

  test("envInt: unset gives the default, anything but an integer >= 1 names the variable") {
    assert(GraftSession.parseEnvInt("SPARK_GRAFT_X", None, 4) === 4)
    assert(GraftSession.parseEnvInt("SPARK_GRAFT_X", Some(" 12 "), 4) === 12)
    for (bad <- Seq("", "four", "2.5", "0", "-3")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseEnvInt("SPARK_GRAFT_X", Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_X"), e.getMessage)
    }
  }
}
