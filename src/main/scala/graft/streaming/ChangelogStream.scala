package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Streaming half of the s19 CDC tier: a changelog FEED (parquet files
  * of (key, op, payload) rows landing in a directory — what
  * [[graft.operators.SnapshotDiff.changelog]] emits per release)
  * applied continuously, so a downstream replica converges to each
  * release without ever rescanning the full corpus.
  *
  * Each micro-batch applies its rows through
  * [[graft.operators.SnapshotDiff.applyChanges]] against the last
  * COMMITTED state version; the new state lands copy-on-write as
  * `v_<batchId>` with a commit marker dropped only after the write
  * completes (streamingMergeUpsert's discipline: a crash leaves either
  * no new version — replay rewrites it — or an unmarked one — ignored
  * and rewritten — never a half-applied table). A batchId already
  * marked committed is skipped, so checkpoint replays are idempotent.
  *
  * Ordering contract: within one changelog each key appears once, so
  * batches that split a changelog are key-disjoint and commute;
  * applying SUCCESSIVE changelogs requires file-arrival order (the
  * file-stream source lists in discovery order — one changelog per
  * landing, as the batch operator emits them).
  *
  * Scale: each batch shuffles |state| + |changes| on the key — the
  * incremental-sync cost the batch applyChanges scaladoc names, paid
  * per batch instead of per release. Retention keeps the two newest
  * committed versions (current + crash-recovery), GC'd marker-FIRST
  * so a marker always implies readable version data. */
object ChangelogStream {

  def applyChangelogStreaming(spark: SparkSession, srcDir: String,
      stateDir: String, initial: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String],
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val cols = (keyCols ++ valueCols).map(col)
    // state versioning + crash protocol: see VersionedState (shared
    // with Scd2Stream — one implementation of the marker discipline)
    val state = new VersionedState(spark, stateDir, "changelog-stream")
    import state.{committed, versionPath, writeMarker}

    // v_-1: the initial replica state, committed before the stream runs
    state.ensureInitial(p =>
      initial.select(cols: _*).write.mode("overwrite").parquet(p))

    val schema = Tables.parquet(spark, srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

    val q = stream.writeStream
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committed().contains(batchId)) {
          val cur = Tables.parquet(spark, versionPath(committed().last))
          val next = graft.operators.SnapshotDiff.applyChanges(
            cur, batch, keyCols, valueCols)
          next.write.mode("overwrite").parquet(versionPath(batchId))
          writeMarker(batchId)
          state.gcOldVersions() // marker-first: see VersionedState
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    Tables.parquet(spark, versionPath(committed().last))
  }
}
