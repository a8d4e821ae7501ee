package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

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

/** The one session-landing seam: every "compute once per session and
  * source, then serve" site goes through here, whether it keeps a
  * frame ([[frame]]) or writes a tree under a path ([[path]],
  * [[scratch]]). Out of scope, each with its reason at its site:
  * Bucketing's warehouse record, Tables' footer row counts, the
  * ledger index's sidecar state and the two oracle-path records.
  *
  * One map holds a slot per SparkContext identity (applicationId +
  * startTime: System.identityHashCode can recycle onto a new context)
  * + tag + key. A slot is the key's lock and holds the landed value
  * with the source fingerprint it was generated against; a hit needs
  * an unchanged fingerprint, so a regenerated fixture under the same
  * dir re-lands. Slots of stopped contexts are evicted on every call,
  * which releases the localCheckpoint blocks only their value pinned.
  *
  * Generation runs under the slot's lock, outside any map compute:
  * landings nest (g1's rank generator lands d7's pair frame), and a
  * nested compute on one ConcurrentHashMap throws "Recursive update"
  * or deadlocks, while distinct keys still land concurrently
  * (Warmup.landShared). The value is recorded only after the generator
  * returns, so a generator that throws leaves nothing behind and the
  * next call generates again. Each landing prints one timed
  * `[tag] one-time` line on stderr. */
private[graft] object Landing {
  /** One key's lock and its landing: (source fingerprint, value). */
  private final class Slot(val sc: org.apache.spark.SparkContext) {
    @volatile var landed: Option[(String, Any)] = None
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** Cheap content fingerprint of a source file/dir: driver-side FS
    * metadata only (max modification time + total length, recursive). */
  private def sourceFingerprint(spark: SparkSession, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var mtime = 0L; var bytes = 0L
    while (it.hasNext) { val f = it.next(); mtime = math.max(mtime, f.getModificationTime); bytes += f.getLen }
    s"$p@$mtime:$bytes"
  }

  /** Frame form: `gen`'s value, computed once per (context, tag, dir,
    * variant) and `$dir/$source` fingerprint. */
  def frame[V](spark: SparkSession, dir: String, tag: String, what: String,
      source: String = "documents.parquet", variant: String = "")(gen: => V): V =
    land(spark, tag, s"$dir:$variant", s"$dir/$source", s"$what ($dir)")(gen)

  /** Path form: run `write` (which fills the caller's `path`) once per
    * (context, tag, path) and `$dir/$source` fingerprint. */
  def path(spark: SparkSession, dir: String, source: String, tag: String,
      what: String, path: String)(write: => Unit): Unit =
    land[Unit](spark, tag, path, s"$dir/$source", s"$what ($dir)")(write)

  /** Path form under the session scratch root, at `${prefix}_<dir tag>`
    * (the landed-index families); returns the path. */
  def scratch(spark: SparkSession, dir: String, prefix: String, source: String)(
      write: String => Unit): String = {
    val p = graft.Tables.scratchDir.getOrElse(System.getProperty("java.io.tmpdir")) +
      s"/${prefix}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}"
    path(spark, dir, source, prefix.stripPrefix("graft_"), "index landing", p)(write(p))
    p
  }

  private def land[V](spark: SparkSession, tag: String, key: String, source: String,
      what: String)(gen: => V): V = {
    slots.forEach((k, slot) => if (slot.sc.isStopped) { slots.remove(k, slot); () })
    val sc = spark.sparkContext
    val slot = slots.computeIfAbsent(s"${sc.applicationId}:${sc.startTime}:$tag:$key",
      _ => new Slot(sc))
    val fp = sourceFingerprint(spark, source)
    def hit = slot.landed.collect { case (`fp`, v) => v }
    hit.getOrElse(slot.synchronized {
      hit.getOrElse {
        val t0 = System.nanoTime()
        val v = gen
        System.err.println(f"[$tag] one-time $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        slot.landed = Some((fp, v))
        v
      }
    }).asInstanceOf[V]
  }
}
