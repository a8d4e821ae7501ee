package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate dedupes across suites run in the same forked JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  // one root for every fixture path — suites that need a different SF
  // derive from here instead of hardcoding a machine layout. The env
  // override mirrors Bench/Verify's SPARK_GRAFT_SF_DIR convention
  // (which points at one SF dir; this is its parent).
  val testDataRoot: String = sys.env.get("SPARK_GRAFT_SF_DIR")
    .map(d => new java.io.File(d).getParent)
    .getOrElse("/root/testdata")
  val sfDir = s"$testDataRoot/sf0.001"
  val sfDir01 = s"$testDataRoot/sf0.01"

  /** `f`'s value and the number of Spark jobs it started. Listener
    * events arrive asynchronously but in order, so one marker job
    * before `f` and one after bracket exactly `f`'s jobs. */
  def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counting = new java.util.concurrent.atomic.AtomicBoolean
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.jobsOf"))) match {
          case Some("start") => counting.set(true)
          case Some("end") => counting.set(false); done.countDown()
          case _ => if (counting.get) { jobs.incrementAndGet(); () }
        }
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty("graft.jobsOf", tag)
      try { sc.parallelize(Seq(1), 1).count(); () }
      finally sc.setLocalProperty("graft.jobsOf", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      val v = f
      marker("end")
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Recursive tree delete for temp fixtures. */
  def rmTree(f: java.io.File): Unit = Tables.rmTree(f)
}

object SparkSpec {
  /** The mains' session at a fixed 4 slots: tests do not follow
    * SPARK_GRAFT_CPUS, because the job budgets (EntrySpec,
    * SearchOpsSpec) were counted at 4 shuffle partitions. */
  lazy val session: SparkSession = Tables.localSession(4)
}
