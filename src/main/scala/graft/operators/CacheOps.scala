package graft.operators

import org.apache.spark.sql.DataFrame

/** Cache discipline shared by operators whose plans fan a frame into
  * several branches (self-joins, candidate+verify phases).
  */
private[graft] object CacheOps {

  /** Persist a shared frame and materialize it SYNCHRONOUSLY, before
    * any dependent branch is built. When two consumer stages of one job
    * race to fill the same un-materialized cache (e.g. both sides of a
    * self-join), tasks convoy on the per-partition block locks — the
    * same query measured 2.8 s or 16 s per JVM depending on which
    * stage-submission order the scheduler picked. One up-front pass
    * makes the cache warm and the plan deterministic; callers release
    * through materializeAndRelease. */
  def shared(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** Materialize the (small) result eagerly, then release the persisted
    * inputs. Without this the cached frames outlive the call and a
    * long-lived session (REPL, repeated pipeline runs) accumulates
    * cache until memory pressure. localCheckpoint keeps the
    * materialized blocks owned by the ContextCleaner, so they free when
    * the returned frame is GC'd. Unpersist is blocking: async cleanup
    * would race the caller's next job and bill this operator's cleanup
    * to whatever runs next. */
  def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(true))
    out
  }
}

/** One-time-per-session landing memo — the "land pure corpus functions
  * once, downstream consumers read the landing" discipline (d7/c1/g1),
  * factored out of its five call sites. Keys combine a STABLE
  * SparkContext identity (applicationId + startTime) with a caller
  * suffix: System.identityHashCode is not stable — a recycled identity
  * hash on a NEW context plus a matching source fingerprint would
  * serve a frame bound to a dead SparkContext (round-10 ADVICE).
  * Entries carry their owning context so that (a) entries for stopped
  * contexts are evicted on every access — dead landings (localCheckpoint
  * blocks pinned only by the memo handle) release promptly — and (b) a
  * hit is served only while its context is live. The fingerprint guard
  * means a regenerated fixture under the same dir recomputes.
  * compute() serializes concurrent first callers per key. */
private[graft] final class SessionMemo[V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.SparkContext, String, V)]()

  def getOrCompute(spark: org.apache.spark.sql.SparkSession, suffix: String,
      fingerprint: String)(gen: => V): V = {
    m.forEach((k, v) => if (v._1.isStopped) { m.remove(k, v); () })
    val sc = spark.sparkContext
    val key = s"${sc.applicationId}:${sc.startTime}:$suffix"
    m.compute(key, (_, cur) => {
      if (cur != null && cur._2 == fingerprint && !cur._1.isStopped) cur
      else (sc, fingerprint, gen)
    })._3
  }

  /** The full landing shape every memo site used to hand-roll (review
    * finding, round 12): source fingerprint over `$dir/$source`, the
    * getOrCompute guard, and the timed one-time stderr line. `tag`
    * names the owning query family in the log. */
  def landed(spark: org.apache.spark.sql.SparkSession, dir: String, tag: String,
      what: String, source: String = "documents.parquet")(gen: => V): V = {
    val fp = MergeOps.sourceFingerprint(spark, s"$dir/$source")
    getOrCompute(spark, dir, fp) {
      val t0 = System.nanoTime()
      val v = gen
      System.err.println(f"[$tag] one-time $what ($dir): " +
        f"${(System.nanoTime() - t0) / 1e9}%.3f s")
      v
    }
  }
}
