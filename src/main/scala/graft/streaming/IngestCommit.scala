package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ONE-BARRIER atomic publish for multi-artifact ingest streams — the
  * round-12 verdict task #2. st9 (pairs/buckets/docs) and st10
  * (curated/buckets/exact) previously published through three
  * sequential appends, each guarded by its own ledger anti-join so a
  * crash between appends could be completed by the retry; the probe
  * showed that per-artifact bookkeeping (3 ledger reads + 3-4
  * localCheckpoints + 3 sequential append barriers) costing ~3× st8's
  * single-artifact wall per micro-batch — all fixed stack, none of it
  * corpus work.
  *
  * The discipline: a batch's artifacts are written FULLY under one
  * `__ingest_staging_<uuid>` dir (a crash there publishes nothing), a
  * redo record is CLAIMED under `_ingestlog/`, then every staged file
  * renames into its live dir and the record drops. A crash mid-rename
  * is REPLAYED to completion by [[recover]] at the next stream start —
  * so to every reader and to the stream's own next batch the publish
  * is all-or-nothing, which is exactly what lets the per-artifact
  * ledgers go: the ONE arrival-authority ledger (docs / exact) decides
  * batch freshness, and no other artifact can be partially present.
  *
  * This is the ONE file-level append publish: the BM25 index's
  * maintenance verbs (TextOps.bm25IndexAppend / bm25IndexDelete) stage
  * their postings/tombs/stats/docids through [[publish]] and recover
  * through [[recover]] on open, with the docids ledger as their
  * last-renamed idempotence guard. Partition-directory REPLACE is the
  * other publish seam (CommitProtocol).
  *
  * Rename-atomicity scope: per-file rename on HDFS-like filesystems
  * (the RenameCommit contract); single writer per index root (the
  * stream's own contract — one query owns a checkpoint). At 100 TB
  * the same seam lifts to a transaction-log commit exactly like
  * CommitProtocol's OptimisticLogCommit — the verbs' plan shapes
  * don't change. */
private[graft] object IngestCommit {
  import org.apache.hadoop.fs.{FileSystem, Path}

  val LogDir = "_ingestlog"

  // Test seams. `stagingFaultHook` fires after all artifacts are
  // staged, BEFORE the redo record is claimed (a crash there must
  // publish nothing and leave no debris after recover).
  // `claimFaultHook` fires after the record's .tmp is written but
  // BEFORE the rename that claims it (a crash there is a torn /
  // unclaimed record: recover must publish nothing and drop both the
  // .tmp and the staging dir). `publishFaultHook` fires with each
  // artifact name immediately before that artifact's staged files
  // rename (a crash there must be replayed to completion by recover).
  // Identity in production.
  private[graft] var stagingFaultHook: String => Unit = _ => ()
  private[graft] var claimFaultHook: String => Unit = _ => ()
  private[graft] var publishFaultHook: String => Unit = _ => ()

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // staging runs the artifact writes CONCURRENTLY (round-15 task #2:
  // the sequential three-write stack was most of st9/st10's fixed
  // per-batch cost — each write is a batch-sized job whose wall is
  // dominated by job-barrier latency, so overlapping them collapses
  // ~3 barriers into ~1). Daemon cached pool: threads die with the
  // JVM, and a stream's batches are sequential so the pool never holds
  // more than one batch's writers.
  private lazy val stagePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-ingest-stage")
        t.setDaemon(true); t
      }))

  /** The file-level append publish every maintained artifact set
    * commits through (st9/st10 streams, BM25 index append and delete).
    * `stage` writes the batch's artifacts under the staging dir it is
    * given (a crash or failure there publishes nothing — the dir
    * drops); then the redo record naming `order` is CLAIMED, every
    * staged file renames into its live dir in `order` (put the
    * arrival-authority / idempotence-guard artifact LAST, so a reader
    * between renames never sees it without its companions), and
    * staging + record drop. A crash mid-rename is replayed to
    * completion by [[recover]]. */
  def publish(spark: SparkSession, root: String, order: Seq[String])(
      stage: String => Unit): Unit = {
    val fs = fsOf(spark, root)
    val stagingName =
      s"__ingest_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    val staging = s"$root/$stagingName"
    try {
      stage(staging)
      stagingFaultHook(stagingName)
    } catch { case e: Throwable =>
      fs.delete(new Path(staging), true)
      throw e
    }
    // Claim ATOMICALLY: write the record to a .tmp sibling, close,
    // then rename to .json — the rename is the claim. Creating the
    // record in place at its final path would let a crash leave a
    // torn record (created, partially written): recover would treat
    // it as claimed, publish only the listed prefix, and delete the
    // staging dir — permanently dropping the unlisted artifacts
    // (always the arrival-authority one, which renames last).
    val logDir = new Path(root, LogDir)
    fs.mkdirs(logDir)
    val rec = new Path(logDir, s"$stagingName.json")
    val tmp = new Path(logDir, s"$stagingName.json.tmp")
    val out = fs.create(tmp, false)
    try out.write(order.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    claimFaultHook(stagingName)
    if (!fs.rename(tmp, rec))
      throw new java.io.IOException(s"failed to claim redo record $rec")
    publishStaged(fs, staging, root, order)
    fs.delete(new Path(staging), true)
    fs.delete(rec, false)
    ()
  }

  /** The streams' [[publish]]: stage every non-empty artifact frame
    * CONCURRENTLY, one staging write per artifact, published in
    * `artifacts` order. Empty frames stage nothing (no empty files in
    * live dirs). `partitioned` names artifacts written `partitionBy`
    * those columns (the t11b keyed layout for probe-pruned ledgers);
    * their staged partition subdirs publish by per-file rename with
    * relative paths preserved.
    *
    * Each artifact frame is a THUNK, CONSTRUCTED on its staging thread:
    * an artifact whose derivation is itself eager Spark work (st9's
    * candidate verify — bounded collects + checkpoints) then overlaps
    * the other artifacts' writes instead of serializing ahead of them
    * (round-15 task #2; the verify chain was ~1 s of st9's critical
    * path that the buckets/docs writes can hide). Thunks must be safe
    * to run concurrently — the streams pass closures over frames
    * already pinned upstream.
    *
    * `alongsideStaging` runs CONCURRENTLY with the artifact writes and
    * is awaited before the claim — the seam the streams use to fold
    * their bloom-sidecar merge into the staging barrier instead of a
    * serial pre-publish job. Because it completes before any rename,
    * work done there still happens-before the publish (the LedgerIndex
    * bloom-AHEAD ordering rule is preserved: a crash anywhere in this
    * window has written the bloom at most, published nothing). */
  def stageAndPublishLazy(spark: SparkSession, root: String,
      artifacts: Seq[(String, () => DataFrame)],
      partitioned: Map[String, Seq[String]] = Map.empty,
      alongsideStaging: () => Unit = () => ()): Unit =
    publish(spark, root, artifacts.map(_._1)) { staging =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val work: Seq[() => Unit] = artifacts.map { case (sub, mk) => () =>
        val df = mk()
        if (!df.isEmpty) partitioned.get(sub) match {
          case Some(cols) =>
            // repartition on the partition key first: ONE file per
            // touched partition per batch — partitionBy alone writes
            // (tasks × partitions) fragments, and the 300× ladder
            // measured the resulting small-file read dominating every
            // later batch's probe
            df.repartition(cols.map(org.apache.spark.sql.functions.col): _*)
              .write.partitionBy(cols: _*).parquet(s"$staging/$sub")
          case None => df.write.parquet(s"$staging/$sub")
        }
      } :+ alongsideStaging
      // await EVERY future (success or failure) before any cleanup — a
      // straggler write racing a staging-dir delete would resurrect files
      val outcomes = work.map(f => Future(f())(stagePool))
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      outcomes.collectFirst { case scala.util.Failure(e) => e }
        .foreach(e => throw e)
    }

  /** Move every staged data file of each artifact into its live dir,
    * RECURSIVELY: a partitioned artifact's staged `k=v/...` subdirs
    * publish file-by-file with relative paths preserved (partition
    * dirs are created, never renamed wholesale — a live partition dir
    * may already hold earlier batches' files). Part-file names are
    * UUID-unique, so rename cannot collide and the file-level replay
    * is idempotent (already-published files are no longer staged). */
  private def publishStaged(fs: FileSystem, staging: String, root: String,
      order: Seq[String]): Unit = {
    def walk(dir: Path, rel: String): Seq[(Path, String)] =
      fs.listStatus(dir).toSeq.flatMap { f =>
        val name = f.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (f.isFile) Seq((f.getPath, s"$rel/$name"))
        else walk(f.getPath, s"$rel/$name")
      }
    order.foreach { sub =>
      publishFaultHook(sub)
      val src = new Path(staging, sub)
      if (fs.exists(src)) {
        walk(src, sub).foreach { case (file, rel) =>
          val dst = new Path(root, rel)
          fs.mkdirs(dst.getParent)
          // Hadoop rename signals failure by returning false — an
          // unchecked false would silently drop an artifact's files
          // while later artifacts still publish
          if (!fs.rename(file, dst))
            throw new java.io.IOException(
              s"failed to publish staged file $file into $dst")
        }
      }
    }
  }

  /** Redo-log replay, called before the first write of a stream or of
    * a BM25 maintenance verb (recover-on-open):
    * a claimed record (`*.json` — the claim is the rename from .tmp,
    * so a .json is complete by construction) whose staging dir
    * survives is PUBLISHED to completion (the crash was mid-rename);
    * a record without its staging dir only missed cleanup (the record
    * drops); a stray `*.json.tmp` crashed mid-claim — unclaimed, it
    * drops along with its staging dir; an unclaimed staging dir
    * crashed mid-staging — incomplete and unpublished, it drops.
    * Idempotent; single-recoverer by the root's single-writer
    * contract. Returns the actions taken (empty = clean). */
  def recover(spark: SparkSession, root: String): Seq[String] = {
    val rootP = new Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(rootP)) return Nil
    val actions = Seq.newBuilder[String]
    val claimed = scala.collection.mutable.Set.empty[String]
    val logDir = new Path(rootP, LogDir)
    if (fs.exists(logDir)) {
      // Stray .tmp records first: never claimed, so their staging
      // dirs fall through to the unclaimed-dir sweep below.
      fs.listStatus(logDir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".json.tmp"))
        .foreach { s =>
          fs.delete(s.getPath, false)
          actions += s"unclaimed=${s.getPath.getName.stripSuffix(".json.tmp")}"
        }
      fs.listStatus(logDir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
        .foreach { s =>
        val stagingName = s.getPath.getName.stripSuffix(".json")
        claimed += stagingName
        val staging = new Path(rootP, stagingName)
        if (fs.exists(staging)) {
          val order = {
            val in = fs.open(s.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().toList.filter(_.nonEmpty)
            finally in.close()
          }
          publishStaged(fs, staging.toString, root, order)
          fs.delete(staging, true)
          actions += s"replayed=$stagingName"
        } else actions += s"cleared=$stagingName"
        fs.delete(s.getPath, false)
        ()
      }
    }
    fs.listStatus(rootP).filter { s =>
      s.isDirectory && s.getPath.getName.startsWith("__ingest_staging") &&
        !claimed.contains(s.getPath.getName)
    }.foreach { s =>
      fs.delete(s.getPath, true)
      actions += s"dropped=${s.getPath.getName}"
    }
    actions.result()
  }
}
