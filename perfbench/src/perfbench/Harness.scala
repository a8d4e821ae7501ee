package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler.PerfbenchScheduler
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark process: set up, run one untimed warm-up pass, then
  * `seconds / pass-estimate` timed passes (at least two) of the
  * workload's requests.
  *
  * Each request calls one `graft.SparkEntry.queries` function (timed as
  * build) and then `.count()`s the frame it returns (timed as action).
  * Persisted frames are cleared after each request, outside the timing.
  * One client thread issues requests back to back (a closed loop); the
  * seed fixes the request order, the same in every pass of the run.
  * Each request's wall time and CPU time are recorded; its CPU time is
  * the process's less that of the JIT compiler and GC threads. A fixed
  * reference job (`Host.probe`) is timed before each timed pass and after
  * the last, so run.py can scale CPU times to a reference core speed.
  *
  * Raw records go to `--out`; run.py derives the metrics from them.
  *
  * Arguments (all `--key value`): requests (comma-separated
  * `SparkEntry.queries` names), data (input tables), work (scratch root), out, seed,
  * seconds, pass-estimate (nominal seconds of one pass), fresh (true:
  * every pass reads its own copy of the input),
  * trace (0 or 1), t0 (epoch ns at which the runner spawned this JVM).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0EpochNs = opt("t0").toLong
    val requests = opt("requests").split(",").toVector
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val passEstimate = opt("pass-estimate").toDouble
    val fresh = opt("fresh").toBoolean
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(out)
    val cpus = Runtime.getRuntime.availableProcessors

    val stealBefore = Host.cpuTicks()
    val harnessCpu0 = Host.processCpuNs()
    val calibBefore = Host.calibrate(cpus)
    Host.probe() // builds its table and gets JIT-compiled outside the timing
    val harnessCpu = Host.processCpuNs() - harnessCpu0

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val meter = new CacheMeter
    sc.addSparkListener(meter)
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.streams.addListener(t.streams) }

    val queries = graft.SparkEntry.queries
    val source = Paths.get(opt("data")).toAbsolutePath
    val inputs = work.resolve("input")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath

    def stage(name: String): String = {
      val dir = inputs.resolve(name)
      Files.createDirectories(dir)
      Files.list(source).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
      dir.toString
    }
    // The program lands per-input scratch under java.io.tmpdir and its
    // tmpfs scratch dir, in entries named after the input dir.
    val scratchRoots = tmp +: graft.Tables.scratchDir.map(Paths.get(_)).toSeq
    def cleanup(dir: String): Unit = {
      val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
      Host.deleteTree(Paths.get(dir))
      for (root <- scratchRoots if Files.isDirectory(root)) {
        val stream = Files.list(root)
        try stream.filter(_.getFileName.toString.contains(tag)).forEach(p => Host.deleteTree(p))
        finally stream.close()
      }
    }

    val reqLog = new PrintWriter(out.resolve("requests.tsv").toFile)
    val summaryLines = scala.collection.mutable.ArrayBuffer.empty[String]
    def summary(key: String, value: Any): Unit = summaryLines += s"$key\t$value"
    val order = new Random(seed).shuffle(requests)
    var seq = 0

    def runPass(phase: String, index: Int, dir: String, traceOn: Boolean): Unit = {
      tracer.foreach(_.enabled = traceOn)
      val counters0 = Counters.now()
      val ticks0 = Host.cpuTicks()
      for (name <- order) {
        val fn = queries(name)
        val jobs0 = PerfbenchScheduler.jobsSubmitted(sc)
        val vm0 = Host.vmThreadsCpuNs()
        val cpu0 = Host.processCpuNs()
        val start = Clock.now()
        var built = start
        var rows = -1L
        var error = ""
        try {
          val df = fn(spark, dir)
          built = Clock.now()
          rows = df.count()
        } catch {
          case e: Throwable =>
            if (built == start) built = Clock.now()
            error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
              .replaceAll("\\s+", " ")
        }
        val end = Clock.now()
        val cpu = Host.processCpuNs() - cpu0
        val vm = Host.vmThreadsCpuNs() - vm0
        val jobs = PerfbenchScheduler.jobsSubmitted(sc) - jobs0
        spark.catalog.clearCache()
        PerfbenchScheduler.drainListeners(sc)
        meter.nextRequest()
        reqLog.println(Seq(phase, index, seq, name, start.ms, built.ms, end.ms,
          (built.ns - start.ns) / 1e9, (end.ns - built.ns) / 1e9, (end.ns - start.ns) / 1e9,
          rows, jobs, if (traceOn) 1 else 0, (cpu - vm) / 1e9, vm / 1e9, error).mkString("\t"))
        seq += 1
      }
      PerfbenchScheduler.drainListeners(sc)
      tracer.foreach(_.enabled = false)
      if (phase == "timed") {
        Counters.now().minus(counters0).foreach { case (k, v) => summary(s"pass.$index.$k", v) }
        summary(s"pass.$index.steal_frac", Host.stealFraction(ticks0, Host.cpuTicks()))
      }
    }

    // set-up: session (above), input staging, one untimed warm-up pass
    val shared = if (fresh) None else Some(stage("shared"))
    val warmDir = shared.getOrElse(stage("warmup"))
    runPass("warmup", 0, warmDir, traceOn = false)
    if (fresh) cleanup(warmDir)

    // The same number of passes on every commit: a fixed time window would
    // give a faster commit more passes, further along the JIT warm-up.
    val passes = math.max(2, math.round(seconds / passEstimate).toInt)
    var firstTimed = Option.empty[Clock.Stamp]
    var setupCpu = 0L
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    meter.armed = true
    for (index <- 0 until passes) {
      val dir = shared.getOrElse(stage(s"pass$index"))
      if (firstTimed.isEmpty) {
        setupCpu = Host.processCpuNs() - Host.vmThreadsCpuNs() - harnessCpu
        firstTimed = Some(Clock.now())
      }
      probes += Host.probe()
      // a traced run alternates traced and untraced passes, so the
      // tracing overhead is measured within one process
      runPass("timed", index, dir, traceOn = traced && index % 2 == 0)
      if (fresh) cleanup(dir)
    }
    meter.armed = false
    probes += Host.probe()
    val calibAfter = Host.calibrate(cpus)
    val stealFrac = Host.stealFraction(stealBefore, Host.cpuTicks())

    summary("setup_s", setupCpu / 1e9)
    summary("setup_wall_s", (firstTimed.get.epochNs - t0EpochNs) / 1e9 - calibBefore)
    summary("probe_s", probes.sorted.apply(probes.size / 2))
    summary("cpus", cpus)
    summary("calib_before_s", calibBefore)
    summary("calib_after_s", calibAfter)
    summary("steal_frac", stealFrac)
    summary("cache_peak_mb", meter.peakBytes / 1048576.0)
    summary("timed_passes", passes)
    reqLog.close()
    val pw = new PrintWriter(out.resolve("summary.tsv").toFile)
    summaryLines.foreach(pw.println)
    pw.close()
    tracer.foreach { t =>
      val ev = new PrintWriter(out.resolve("events.jsonl").toFile)
      t.records.foreach(ev.println)
      ev.close()
    }
    shared.foreach(cleanup)
    spark.stop()
  }
}

/** Monotonic time with its epoch-millisecond equivalent, so harness
  * timings line up with the epoch times Spark stamps on its events. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  final case class Stamp(ns: Long) {
    def epochNs: Long = baseEpochNs + (ns - baseNs)
    def ms: Double = epochNs / 1e6
  }
  def now(): Stamp = Stamp(System.nanoTime())
}

/** Process-wide counters read around each timed pass. */
object Counters {
  final case class Snapshot(values: Map[String, Double]) {
    def minus(o: Snapshot): Map[String, Double] = values.map { case (k, v) => k -> (v - o.values(k)) }
  }
  def now(): Snapshot = Snapshot(Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
    "files.discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "files.listing_jobs" -> HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble,
    "files.cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble))
}

/** Host contention probes and file helpers. */
object Host {
  /** Wall seconds for `threads` threads to each run a fixed xorshift
    * loop: rises when other tenants take the cores. */
  def calibrate(threads: Int): Double = {
    val start = System.nanoTime()
    val workers = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0
        while (n < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        if (x == 42L) System.err.println("")
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    (System.nanoTime() - start) / 1e9
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** 2^22-entry cycle through a random permutation (16 MB), for probe(). */
  private lazy val cycle = {
    val n = 1 << 22
    val perm = Array.tabulate(n)(identity)
    val r = new Random(1)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val next = new Array[Int](n)
    for (i <- 0 until n) next(perm(i)) = perm((i + 1) % n)
    next
  }

  /** CPU seconds this thread takes for a fixed reference job: 10^8
    * xorshift steps, then 2*10^6 dependent loads along `cycle`. It shows
    * how fast the host lets a core compute and reach memory right now;
    * the runner scales the CPU metrics by it. */
  def probe(): Double = {
    val next = cycle
    val c0 = threads.getCurrentThreadCpuTime
    var x = 0x9E3779B97F4A7C15L
    var n = 0
    while (n < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
    var i = 0
    n = 0
    while (n < 2000000) { i = next(i); n += 1 }
    if (x == 42L && i == -1) System.err.println("")
    (threads.getCurrentThreadCpuTime - c0) / 1e9
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of all threads of this process, in ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  private val vmThread = scala.collection.mutable.Map.empty[String, Boolean]

  /** CPU time of the JVM's JIT compiler and GC threads, in ns, from
    * /proc/self/task/<tid>/schedstat (like the process CPU time, it
    * excludes time stolen by the hypervisor). The runner keeps these
    * threads alive for the whole run (-XX:-UseDynamicNumberOfCompilerThreads;
    * GC workers never exit), so differences of two readings are exact. */
  def vmThreadsCpuNs(): Long = {
    val tasks = new File("/proc/self/task").list()
    if (tasks == null) 0L
    else tasks.iterator.map { tid =>
      try {
        val dir = Paths.get("/proc/self/task", tid)
        val isVm = vmThread.getOrElseUpdate(tid, {
          val comm = new String(Files.readAllBytes(dir.resolve("comm"))).trim
          comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
            comm.startsWith("GC Thread") || comm.startsWith("G1 ")
        })
        if (isVm) new String(Files.readAllBytes(dir.resolve("schedstat"))).trim.split(" ")(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Aggregate (steal, total) jiffies from /proc/stat's `cpu` line. */
  def cpuTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cols = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (cols.length > 7) cols(7) else 0L, cols.sum)
      } finally src.close()
    }
  }

  def stealFraction(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else (after._1 - before._1).toDouble / total
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(c => deleteTree(c)) finally s.close()
    }
    Files.delete(p)
  }
}
