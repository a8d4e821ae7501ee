package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Incremental, MergeOps}

/** I5: sequential pipeline orchestration — the engine-side analog of
  * the reference's run_all_updates.py (stages in dependency order,
  * per-stage status + counts, non-zero exit on failure,
  * run_all_updates.py:14-19, 54-94).
  *
  * Each stage is a named DataFrame producer; the runner materializes it,
  * appends an update_log row (I1 watermark bookkeeping,
  * update_donations.py:37-49), and continues or aborts. Usage:
  *
  * {{{ sbt "runMain graft.RunPipeline /root/testdata/sf0.001 /tmp/graft_state" }}}
  */
object RunPipeline {

  case class StageResult(name: String, rows: Long, seconds: Double, status: String)

  def stages(spark: SparkSession, sfDir: String): Seq[(String, () => DataFrame)] = Seq(
    // acquisition tier first, like the reference's ingest_* scripts:
    // landed-archive extraction (S8) and the cursor-paged feed (S7)
    // both land + parse + cleanse before the merge tier runs
    "ingest_zip"        -> (() => graft.sources.ZipSource.zipIngestOverOrders(spark, sfDir)),
    // the reject-accounting twin of ingest_zip (SURVEY §5 ETL
    // self-verification): same scan, classified instead of dropped; its
    // per-reason counters land in this run's update_log notes, matching
    // the reference's scanned/inserted/skipped run summaries
    "ingest_zip_audit"  -> (() => graft.sources.ZipSource.zipRejectCountsOverOrders(spark, sfDir)),
    "ingest_paged"      -> (() => graft.sources.PagedSource.pagedScanOverCustomers(spark, sfDir)),
    "merge_upsert"      -> (() => MergeOps.mergeUpsert(spark, sfDir)),
    // the incremental-scale form of the same MERGE: hash-partitioned
    // base, broadcast delta, only affected partition dirs rewritten
    "partitioned_merge" -> (() => MergeOps.partitionedMergeUpsert(spark, sfDir)),
    "insert_ignore"     -> (() => MergeOps.insertIgnore(spark, sfDir)),
    "column_update"     -> (() => MergeOps.columnUpdate(spark, sfDir)),
    "watermark_scan"    -> (() => Incremental.watermarkFilter(spark, sfDir)),
    // time-partitioned reload + pruned incremental rollup (S16): the
    // layout the watermark scan above reads at scale
    "partitioned_reload" -> (() =>
      graft.operators.Partitioned.partitionedIncrementalCounts(spark, sfDir)),
    // frontier probe (I3): discover the highest event id past the stored
    // frontier, stop after a gap — the reference's roll-call probing
    // loop; emitted as a 1-row update_log-shaped frame
    "frontier_probe"    -> (() => {
      import org.apache.spark.sql.functions._
      val events = graft.Tables.events(spark, sfDir).select(col("event_id"))
      // max() over an empty table is NULL — an empty fixture must probe
      // from 0, not NPE inside the stage
      val maxRow = events.agg(max(col("event_id")).cast("long")).collect()(0)
      val start = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) - 100
      val frontier = Incremental.probeFrontier(events, "event_id", start)
      import spark.implicits._
      Seq(("events_frontier", frontier)).toDF("table_name", "frontier")
    }),
    // COLD-START stage: land every session-shared corpus frame
    // (serving indexes, pair/rank frames, rare grams, tokenized
    // corpus) CONCURRENTLY before the training-data tier touches any
    // of them — the operational pattern that fronts the landings once
    // instead of paying them serially at first query (round-11 verdict
    // task #7). Emits one (landing, seconds) row per landing.
    "land_shared"       -> (() => {
      import spark.implicits._
      graft.operators.Warmup.landShared(spark, sfDir)
        .toDF("landing", "seconds").orderBy(col("landing"))
    }),
    // training-data tier, in corpus-build order: curation rollup
    // (quality → dedup → near-dup → split), benchmark decontamination
    // over the same corpus, then the mixture emission a trainer reads
    "curate_corpus"     -> (() => graft.operators.Curation.curate(spark, sfDir)),
    "decontaminate"     -> (() => graft.operators.Curation.decontaminate(spark, sfDir)),
    "mixture_emit"      -> (() => graft.operators.Curation.mixtureEpochs(spark, sfDir)))

  def run(spark: SparkSession, sfDir: String, stateDir: String): Seq[StageResult] = {
    stages(spark, sfDir).map { case (name, mk) =>
      val t0 = System.nanoTime()
      try {
        val df = mk()
        df.write.mode("overwrite").parquet(s"$stateDir/$name")
        val rows = Tables.parquet(spark, s"$stateDir/$name").count()
        val secs = (System.nanoTime() - t0) / 1e9
        // audit stages carry their counters into the log's notes — the
        // reference prints these per run (ingest_bulk_donations.py:
        // 219-223); reading back the just-written 7-row rollup is
        // bounded metadata, not a second source scan
        val notes = if (name.endsWith("_audit")) {
          Tables.parquet(spark, s"$stateDir/$name")
            .orderBy(col("reason")).collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
        } else ""
        logUpdate(spark, stateDir, name, rows, "success", notes)
        StageResult(name, rows, secs, "success")
      } catch {
        case e: Exception =>
          // String.valueOf: exceptions with null messages must not NPE
          // inside the failure handler itself
          val msg = String.valueOf(e.getMessage).take(100)
          logUpdate(spark, stateDir, name, 0, s"failed: $msg")
          StageResult(name, 0, (System.nanoTime() - t0) / 1e9, "failed")
      }
    }
  }

  /** Append one update_log row (table_name, last_update, records_updated,
    * status, notes) — the reference's watermark table, as Parquet;
    * `notes` carries audit counters (scanned/inserted/rejects). */
  private def logUpdate(spark: SparkSession, stateDir: String,
      table: String, rows: Long, status: String, notes: String = ""): Unit = {
    import spark.implicits._
    Seq((table, new java.sql.Timestamp(System.currentTimeMillis()), rows, status, notes))
      .toDF("table_name", "last_update", "records_updated", "status", "notes")
      .write.mode("append").parquet(s"$stateDir/update_log")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val stateDir = if (args.length > 1) args(1) else "/tmp/graft_state"
    val spark = Tables.localSession(Tables.graftCpus)

    val results = run(spark, sfDir, stateDir)
    println(f"${"stage"}%-16s ${"rows"}%8s ${"secs"}%8s  status")
    results.foreach(r => println(f"${r.name}%-16s ${r.rows}%8d ${r.seconds}%8.2f  ${r.status}"))
    val failed = results.count(_.status != "success")
    println(s"${results.size - failed}/${results.size} stages succeeded")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
