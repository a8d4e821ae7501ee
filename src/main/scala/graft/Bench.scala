package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line per run for the driver's BENCH_r{N}.json.
  *
  * Measurement protocol (round 3, after round 2's harness was shown to
  * attribute multi-second GC/scheduler noise to innocent queries):
  *  - every query runs REPS times (default 3); the reported per-query
  *    number and the total are MEDIANS over the warm runs;
  *  - reps are INTERLEAVED (pass 1 over every query, then pass 2, ...):
  *    the host VM shows multi-minute noisy-neighbor bursts (measured
  *    2.5× single-core slowdown with matching /proc/stat steal), and
  *    interleaving means a burst poisons at most one rep of each query
  *    instead of every rep of whichever queries it overlapped — the
  *    median survives;
  *  - the first (cold) pass is reported separately under "cold" so
  *    JIT/cache warm-up is visible instead of folded in;
  *  - queries run in sorted-name order (deterministic, not Map order);
  *  - the cache is cleared between runs so persisted posting lists from
  *    one query never skew the next;
  *  - round 6: the run DEFENDS itself against noisy-neighbor windows
  *    instead of trusting one pass-set — when the per-query max/median
  *    spread across warm reps exceeds 1.5× for >10% of queries (with a
  *    0.2 s absolute-gap qualifier so sub-second GC jitter doesn't
  *    count), the warm passes re-run (bounded retries) and the cleaner
  *    set is kept; a still-dirty final set is flagged `"noisy":true` in
  *    the output rather than silently recorded (the round-5 artifact:
  *    a ~2.5× inflated pass committed as BENCH_r05 contradicted the
  *    README's true zero-regression claim). Per-rep times go to stderr
  *    under [bench-detail] for the archive;
  *  - round 7: the ONE cold pass can't median-defend itself, so a
  *    cold/warm total ratio past 2× (calm windows measure ~1.5-1.6×)
  *    marks the artifact `"cold_noisy":true` — the committed number
  *    stays, the flag says not to diff against it.
  * Heap is scaled with the cpu count in build.sbt (32 tasks in an 8 GB
  * heap was the round-2 failure mode — constant GC billed to whichever
  * query happened to be running).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Tables.localSession(Tables.graftCpus)
    // warm the JVM/codegen/scheduler paths so the first measured query
    // doesn't absorb ~5 s of one-time startup cost
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.parquet(spark, s"$sfDir/lineitem.parquet").limit(1000)
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => }

    // returns (seconds, error) — a failed query must surface in the
    // output, not masquerade as the fastest query in the suite
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      // per-query persisted frames must not skew later measurements
      spark.catalog.clearCache()
      (t, err)
    }

    // optional comma-separated query filter for targeted re-measurement
    // (plan-audit follow-ups); the driver never sets it, so BENCH_r{N}
    // artifacts always cover the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def runPass(): Map[String, (Double, Option[String])] =
      named.map { case (name, fn) => name -> timeOnce(fn) }.toMap

    // Per-query dispersion over a warm pass-set: max/median ratio,
    // neutralized (1.0) when the absolute max-median gap is < 0.2 s —
    // a 0.1→0.25 s blip is GC jitter, not a noisy-neighbor window.
    def spreadRatios(ps: Vector[Map[String, (Double, Option[String])]]): Map[String, Double] =
      if (ps.size < 2) Map.empty
      else named.map { case (name, _) =>
        val ts = ps.map(_(name)._1).sorted
        val med = ts((ts.size - 1) / 2)
        name -> (if (ts.last - med < 0.2) 1.0 else ts.last / math.max(med, 1e-9))
      }.toMap
    def noisyFraction(ps: Vector[Map[String, (Double, Option[String])]]): Double = {
      val r = spreadRatios(ps)
      if (r.isEmpty) 0.0 else r.values.count(_ > 1.5).toDouble / r.size
    }
    // Longest CONSECUTIVE (run-order) stretch of spread->1.5 queries: a
    // noisy-neighbor window poisons a contiguous alphabetical span of
    // one pass (BENCH_r14 measured 15 adjacent queries j7..m5 spread
    // 1.8-5.3× — m1's 83 ms median blipped to ~0.4 s — while the global
    // fraction, 7%, stayed under the re-run trigger). A burst is a
    // window signature regardless of fraction, so it re-runs too.
    def noisyBurst(ps: Vector[Map[String, (Double, Option[String])]]): Int = {
      val r = spreadRatios(ps)
      if (r.isEmpty) 0
      else named.map { case (n, _) => r(n) > 1.5 }
        .foldLeft((0, 0)) { case ((best, cur), flag) =>
          val c = if (flag) cur + 1 else 0; (math.max(best, c), c)
        }._1
    }
    def dirty(ps: Vector[Map[String, (Double, Option[String])]]): Boolean =
      noisyFraction(ps) > 0.10 || noisyBurst(ps) >= 5

    // Host-speed calibration scalar (round 16, VERDICT r15 #3): the
    // host VM has multi-minute noisy-neighbor windows (~2.5× single-
    // core slowdown), and round totals were not mechanically comparable
    // across rounds without a same-run speed reference. One fixed
    // single-threaded xorshift loop runs before the cold pass and
    // again after the warm passes; both times go in the artifact as
    // "calib" (calm reference ~0.25-0.35 s — scale a cross-round total
    // by the calib ratio before calling it a regression).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val calibBefore = calibOnce()
    val coldPass = runPass()
    val warmReps = math.max(1, reps) - 1
    var warmPasses = Vector.fill(warmReps)(runPass())
    var noiseRetries = 0
    val MaxNoiseRetries = 2
    while (dirty(warmPasses) && noiseRetries < MaxNoiseRetries) {
      System.err.println(f"[bench] noisy pass-set detected " +
        f"(${noisyFraction(warmPasses) * 100}%.0f%% of queries spread >1.5x, " +
        f"longest burst ${noisyBurst(warmPasses)}) — re-running warm passes")
      val rerun = Vector.fill(warmReps)(runPass())
      if (noisyFraction(rerun) + noisyBurst(rerun) * 0.01 <
          noisyFraction(warmPasses) + noisyBurst(warmPasses) * 0.01)
        warmPasses = rerun
      noiseRetries += 1
    }
    val noisy = dirty(warmPasses)
    val calibAfter = calibOnce()
    val spreads = spreadRatios(warmPasses)

    val passes = coldPass +: warmPasses
    val results = named.map { case (name, _) =>
      val times = passes.map(_(name)._1)
      // median over WARM passes only (cold first pass reported
      // separately); lower-middle for even counts. With reps=1 the
      // single (cold) pass is all there is.
      val warm = if (times.size > 1) times.tail else times
      val median = warm.sorted.apply((warm.size - 1) / 2)
      val err = passes.flatMap(_(name)._2).headOption
      err.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      (name, median, times.head, err)
    }
    // the driver keeps only a 2000-char TAIL of stdout: at 124 queries
    // even a 3-decimal queries map is ~3.5 KB, so the r8 artifact
    // recorded parsed:null with 55 queries' warm times cut mid-list
    // (round-8 verdict #1). Two-channel fix: the COMPLETE object
    // (warm + cold per-query maps) is written to BENCH_full_latest.json
    // in the working dir — committed per round as BENCH_r{N}_full.json
    // — while stdout carries ONE compact line guaranteed to fit the
    // tail: metadata + the slowest queries listed individually until a
    // 1800-byte budget, every omitted query PROVABLY bounded by the
    // emitted "omitted_max" (so a per-query threshold audit needs no
    // other source: a query is either listed or faster than
    // omitted_max).
    def r3(d: Double): String = BigDecimal(d)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    def jsonNum(f: ((String, Double, Double, Option[String])) => Double): String =
      results.map { case r @ (k, _, _, _) => "\"" + k + "\":" + r3(f(r)) }
        .mkString("{", ",", "}")
    val errJson = results.collect { case (k, _, _, Some(e)) =>
      "\"" + k + "\":" + Verify.jsonString(e)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = results.map(_._3).sum
    // the cold pass runs ONCE by definition (a re-run isn't cold), so
    // it cannot defend itself with medians the way the warm set does.
    // Flag it instead: calm-window cold totals measure ~1.5-1.6× warm
    // (JIT/codegen warm-up); a cold/warm ratio past 2× means the cold
    // pass overlapped a noisy-neighbor window and its absolute number
    // should not be trusted (r5 and r6 both committed such artifacts —
    // 220 s recorded vs 97 s calm in r6).
    val coldNoisy = total > 0 && coldTotal > 2.0 * total
    // stdout stays ONE compact line (bounded driver tail): the noise
    // verdict + only the offending queries' spreads; the full per-rep
    // time vectors land on stderr for the archive.
    val noisyQ = spreads.filter(_._2 > 1.5).toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val spreadMax = if (spreads.isEmpty) 1.0 else spreads.values.max
    val perRep = named.map { case (name, _) =>
      "\"" + name + "\":[" + passes.map(p => r3(p(name)._1)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    System.err.println(s"""[bench-detail] {"cold":${jsonNum(_._3)},"reps":$perRep}""")

    val meta = s""""unit":"sec","reps":$reps,"cold_total":${r3(coldTotal)},"cold_noisy":$coldNoisy,"noisy":$noisy,"noise_retries":$noiseRetries,"spread_max":${r3(spreadMax)},"calib":[${r3(calibBefore)},${r3(calibAfter)}],"noisy_queries":$noisyQ,"errors":$errJson,"sf":"$sfDir""""
    // the complete artifact (full warm + cold maps), for the committed
    // per-round BENCH_r{N}_full.json
    val fullLine = s"""{"metric":"total","value":${r3(total)},$meta,"n_queries":${results.size},"queries":${jsonNum(_._2)},"cold":${jsonNum(_._3)}}"""
    // a SPARK_GRAFT_BENCH_ONLY mini-run writes its own file: it must
    // neither clobber the full-suite artifact (the old pitfall — a
    // targeted re-measurement destroyed the committed-run evidence)
    // nor masquerade as a round artifact
    val fullPath = java.nio.file.Paths.get(
      if (only.isEmpty) "BENCH_full_latest.json" else "BENCH_mini_latest.json")
    java.nio.file.Files.write(fullPath,
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[bench] full artifact -> ${fullPath.toAbsolutePath}")
    if (only.isEmpty) {
      // the round-named copy is written by the SAME run that wrote
      // BENCH_full_latest.json, so the pair can never de-sync (round-10
      // verdict #2: a bench re-run after the gate's mid-round sync step
      // left BENCH_r10_full.json carrying a different, noisier run).
      // Round numbering (round-11 ADVICE, low): SPARK_GRAFT_ROUND is
      // the single source of truth when set (check_all.sh computes it
      // once and passes it here AND to its own sync assert); the
      // max-compact+1 inference is only the unset fallback, and it
      // warns on its two failure modes — a cwd that is not the repo
      // root (the file listing would see no artifacts and misnumber to
      // round 1), and a full re-run AFTER this round's compact artifact
      // landed (the numbering would shift to round+1, orphaning the
      // round-full artifact the re-run meant to refresh).
      val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).getOrElse {
        if (!new java.io.File("build.sbt").exists())
          System.err.println("[bench] WARNING: cwd is not the repo root — " +
            "round inference over BENCH_r*.json sees nothing here; set " +
            "SPARK_GRAFT_ROUND or run from the repo root")
        val rx = "BENCH_r(\\d+)\\.json".r
        val prior = Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
          .collect { case rx(n) => n.toInt }
        val r = if (prior.isEmpty) 1 else prior.max + 1
        if (prior.nonEmpty && new java.io.File(f"BENCH_r${prior.max}%02d_full.json").exists())
          System.err.println(s"[bench] NOTE: inferring round $r because " +
            f"BENCH_r${prior.max}%02d.json exists; if this run is meant to refresh " +
            f"round ${prior.max}'s artifact instead, re-run with SPARK_GRAFT_ROUND=${prior.max} " +
            f"(otherwise BENCH_r${prior.max}%02d_full.json stays behind as a prior-round artifact)")
        r
      }
      val dst = java.nio.file.Paths.get(f"BENCH_r$round%02d_full.json")
      java.nio.file.Files.write(dst,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] round artifact -> ${dst.toAbsolutePath}")
    }

    // compact stdout line: slowest queries first until the byte budget
    val LineBudget = 1800
    val desc = results.sortBy { case (name, med, _, _) => (-med, name) }
    val fixed = s"""{"metric":"total","value":${r3(total)},$meta,"n_queries":${results.size},"detail":"BENCH_full_latest.json","queries_omitted":NNN,"omitted_max":M.MMM,"queries":{}}"""
    var room = LineBudget - fixed.length
    val listed = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var i = 0
    while (i < desc.size && room > 0) {
      val (name, med, _, _) = desc(i)
      val entry = "\"" + name + "\":" + r3(med) + ","
      if (entry.length <= room) { listed += name -> med; room -= entry.length; i += 1 }
      else room = 0
    }
    val omitted = desc.drop(listed.size)
    val omittedMax = if (omitted.isEmpty) 0.0 else omitted.map(_._2).max
    val qJson = listed.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},$meta,"n_queries":${results.size},"detail":"BENCH_full_latest.json","queries_omitted":${omitted.size},"omitted_max":${r3(omittedMax)},"queries":$qJson}""")
    spark.stop()
  }
}
