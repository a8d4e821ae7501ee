package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.operators.Landing

/** The session-landing seam (CacheOps.scala): hits, re-lands on a
  * changed source, failed generators, concurrency and nesting. Every
  * test lands against its own temp source, so keys never collide with
  * other suites' landings. */
class LandingSpec extends SparkSpec {

  private def sourceDir(): String = {
    val d = Files.createTempDirectory("graft_landing")
    Files.writeString(d.resolve("src.txt"), "v1")
    d.toString
  }

  private def land[V](dir: String, tag: String = "spec")(gen: => V): V =
    Landing.frame(spark, dir, tag, "spec value", source = "src.txt")(gen)

  /** Run `fs` on their own threads; their results, or a failure if any
    * has not finished within the timeout. */
  private def concurrently[V](fs: Seq[() => V]): Seq[V] = {
    val pool = Executors.newFixedThreadPool(fs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(fs.map(f => Future(f()))), 60.seconds)
    finally { pool.shutdownNow(); () }
  }

  test("an unchanged source is a hit; rewriting the source re-runs the generator") {
    val dir = sourceDir()
    val runs = new AtomicInteger
    assert(land(dir)(runs.incrementAndGet()) === 1)
    assert(land(dir)(runs.incrementAndGet()) === 1)
    assert(runs.get === 1)
    // a different length moves the fingerprint even inside one mtime tick
    Files.writeString(Paths.get(dir, "src.txt"), "v2, longer")
    assert(land(dir)(runs.incrementAndGet()) === 2)
    assert(land(dir)(runs.incrementAndGet()) === 2)
    assert(runs.get === 2)
  }

  test("a throwing generator leaves no entry; the next call generates") {
    val dir = sourceDir()
    intercept[IllegalStateException](land(dir)(throw new IllegalStateException("boom")))
    assert(land(dir)("landed") === "landed")
    // the path form records nothing for a failed write either
    val root = s"$dir/tree"
    val writes = new AtomicInteger
    def write(fail: Boolean): Unit =
      Landing.path(spark, dir, "src.txt", "spec", "tree", root) {
        writes.incrementAndGet()
        if (fail) throw new java.io.IOException("disk full")
      }
    intercept[java.io.IOException](write(fail = true))
    write(fail = false)
    write(fail = false)
    assert(writes.get === 2)
  }

  test("four threads on one key generate once") {
    val dir = sourceDir()
    val runs = new AtomicInteger
    val start = new CountDownLatch(4)
    val got = concurrently(Seq.fill(4)(() => {
      start.countDown(); start.await()
      land(dir) { runs.incrementAndGet(); Thread.sleep(200); "v" }
    }))
    assert(got === Seq.fill(4)("v"))
    assert(runs.get === 1)
  }

  test("two keys land at the same time: landings are not serialized globally") {
    val dir = sourceDir()
    val both = new CountDownLatch(2)
    // each generator returns only once the other has started
    def meet(): Boolean = { both.countDown(); both.await(30, TimeUnit.SECONDS) }
    assert(concurrently(Seq(() => land(dir, "a")(meet()), () => land(dir, "b")(meet())))
      === Seq(true, true))
  }

  test("a generator that lands another key finishes (the g1 rank -> pair nesting)") {
    val dir = sourceDir()
    val got = concurrently(Seq(() => land(dir, "ranks")(land(dir, "pairs")(1) + 1)))
    assert(got === Seq(2))
    assert(land(dir, "pairs")(-1) === 1)
  }

  test("two tags over one dir do not share an entry") {
    val dir = sourceDir()
    assert(land(dir, "t1")("one") === "one")
    assert(land(dir, "t2")("two") === "two")
    assert(land(dir, "t1")("other") === "one")
  }
}
