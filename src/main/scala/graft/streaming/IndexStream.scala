package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.TextOps

/** Streaming ingestion into the landed BM25 index — search that is
  * CONTINUOUSLY current, the serving-side composition of the streaming
  * tier with the index lifecycle. The reference refreshes its search
  * layer by periodic batch re-ingest (rebuild-the-world on a
  * schedule); at 100 TB the index must instead FOLLOW the corpus:
  * documents arrive as files, every micro-batch appends through
  * [[TextOps.bm25IndexAppend]] — the t11c seam, unchanged — and the
  * index is queryable mid-stream, always answering exactly what a
  * rebuild over the documents-so-far would answer (df recomputes from
  * probed postings; stats partials sum).
  *
  * Exactly-once, by composition rather than new machinery: the
  * checkpoint gives batches stable identity across restarts (offsets
  * resume, never renumber), and bm25IndexAppend is idempotent PER
  * DOCUMENT (the docids-ledger anti-join drops already-indexed docs,
  * and a fully-duplicate batch publishes nothing — no stats partial,
  * no files). So a foreachBatch retry after a COMPLETE publish, a
  * query restarted after a clean batch boundary, or even a FULL
  * redelivery of every file (fresh checkpoint) leaves the index
  * byte-for-byte serving the same answers — IndexStreamSpec asserts
  * the replay case end-to-end. This is the streamingMergeUpsert
  * discipline with the ledger, not a state store, as the dedup
  * authority: the guard survives restarts because it lives in the
  * index itself.
  *
  * The guarantee is UNCONDITIONAL over crash position: a crash
  * mid-STAGING published nothing (the retry starts fresh); a crash
  * MID-PUBLISH — between bm25IndexAppend's postings → stats → docids
  * renames — is claimed in the index's `_ingestlog/` redo log before
  * the first rename, and [[IngestCommit.recover]] (run at stream
  * start here, and on every append open) FINISHES the claimed batch's
  * publish before the retry's ledger read, so the anti-join always
  * sees the whole batch or none of it. IndexStreamSpec kills the
  * publish between the stats and docids renames, restarts the stream,
  * and asserts the recovered index matches a clean run row-for-row.
  */
object IndexStream {

  /** Start the ingest stream: parquet document files (doc_id, text,
    * lang, …) arriving under `incomingDir` append into the landed
    * index at `indexPath`, one file per micro-batch. AvailableNow
    * drains what exists and stops; a long-running deployment swaps
    * the trigger for a processing-time one and passes `schema`
    * explicitly — the deployment starts BEFORE the first file lands,
    * and schema inference over an empty directory throws (the same
    * rule the index's own artifact reads follow). The inference
    * default is a convenience for drains over already-landed files. */
  def bm25IndexIngest(spark: SparkSession, incomingDir: String,
      indexPath: String, checkpoint: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      queryName: String =
        "bm25_index_ingest_" + java.util.UUID.randomUUID().toString.take(8)): StreamingQuery = {
    // recover-on-open: finish/drop any half-published batch a crashed
    // run left, BEFORE the first micro-batch reads the ledger (also
    // covers the zero-new-files restart, which would never append)
    IngestCommit.recover(spark, indexPath)
    spark.readStream.schema(schema.getOrElse(Tables.parquet(spark, incomingDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(incomingDir)
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TextOps.bm25IndexAppend(batch.sparkSession, indexPath, batch)
      }
      .start()
  }

  /** ST7: streaming CDC into the serving index — the t11g release loop
    * as a CONTINUOUS stream (the composition the round-12 tombstone
    * delete makes affordable: before it, every micro-batch carrying a
    * delete paid bucket rewrites; now the delete leg is three
    * change-sized appends, so per-batch apply cost tracks the batch).
    * Changelog rows (op, doc_id, text, lang) arrive as files; each
    * micro-batch applies through the UNCHANGED maintenance verbs —
    * deleted+updated keys through [[TextOps.bm25IndexDelete]], then
    * non-deleted rows back through [[TextOps.bm25IndexAppend]] (the
    * tombstoned updated docs re-add under a fresh generation).
    *
    * Idempotence: a CDC batch MUTATES membership, so the append-only
    * streams' ledger anti-join cannot make its replay a no-op — the
    * publish-nothing guarantee instead comes from an applied-batch
    * mark in the index (the standard foreachBatch idempotent-sink
    * pattern), keyed by the batch's SOURCE FILE SET
    * (`_cdcmark/f<md5 of sorted file paths>`): a redelivered batch —
    * the offset-commit-crashed restart, or a FULL redelivery under a
    * fresh checkpoint (round-13 verdict task #2: the fresh-checkpoint
    * replay previously re-tombstoned and re-added every updated doc,
    * adding a generation per replay) — reads the same files, finds its
    * mark, and SKIPS, publishing nothing (spec-asserted identical
    * artifact file sets). Files are the delivery unit
    * (maxFilesPerTrigger), and ingest never reuses a file path for new
    * content, so the file set identifies the batch across checkpoint
    * lineages where a batch id cannot. Two layered fallbacks: rows
    * whose source files cannot be determined fall back to the
    * `<checkpoint-key>.<batchId>` mark (same-lineage replays only),
    * and a redelivery REBATCHED differently (a changed
    * maxFilesPerTrigger — different file grouping, marks miss) flows
    * through the verbs, where the stream is ANSWER-idempotent — the
    * delete leg re-tombstones the docs the append leg re-adds under a
    * fresh generation (same text, same scores, spec-asserted; the
    * churned generations are compaction's reclaim food). The same
    * fallback covers the one remaining crash window: between the verbs
    * landing and the mark creation, a crash replays the batch through
    * the verbs. Marks are create-once (no rename/overwrite protocol to
    * tear) and are cleared by index REBUILD together with the other
    * sidecars — a re-landed stream over regenerated files must not
    * skip. */
  def bm25CdcIngest(spark: SparkSession, incomingDir: String,
      indexPath: String, checkpoint: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      queryName: String =
        "bm25_cdc_ingest_" + java.util.UUID.randomUUID().toString.take(8)): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    IngestCommit.recover(spark, indexPath)
    val key = checkpointKey(spark, checkpoint)
    spark.readStream.schema(schema.getOrElse(Tables.parquet(spark, incomingDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(incomingDir)
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // pin the batch ONCE with its source-file lineage captured as a
        // column: the file-set key and both verb legs read the same
        // materialization (the previous shape ran a separate
        // input_file_name() distinct-collect scan of the batch's source
        // files BEFORE the pin — one full extra read per micro-batch)
        val log = batch
          .withColumn("__src", org.apache.spark.sql.functions.input_file_name())
          .localCheckpoint(true)
        // the batch's source-file set — one bounded collect (≤ files
        // per trigger) off the pin; empty when the source exposes no
        // file names (falls back to the lineage-scoped batch-id key)
        val srcFiles = log.select(col("__src"))
          .distinct().collect().map(_.getString(0)).filter(_.nonEmpty).sorted
        val legacyMark = s"$key.$batchId"
        val markName =
          if (srcFiles.nonEmpty)
            "f" + java.security.MessageDigest.getInstance("MD5")
              .digest(srcFiles.mkString("\n").getBytes("UTF-8"))
              .take(8).map("%02x".format(_)).mkString
          else legacyMark
        // honor marks written by the pre-file-set code too (the
        // '<key>.<batchId>' form): an index carrying only legacy marks
        // restarted on the SAME lineage must still skip its applied
        // batches instead of replaying them through the verbs
        val applied = cdcMarkExists(s, indexPath, markName) ||
          (markName != legacyMark && cdcMarkExists(s, indexPath, legacyMark))
        if (!applied) {
          TextOps.bm25IndexDelete(s, indexPath,
            log.filter(col("op").isin("deleted", "updated")).select(col("doc_id")))
          TextOps.bm25IndexAppend(s, indexPath,
            log.filter(col("op") =!= "deleted")
              .select(col("doc_id"), col("text"), col("lang")))
          writeCdcMark(s, indexPath, markName)
          // the reclaim cadence POLICY, wired into the front door: the
          // churn each CDC batch accumulates (tombstones per update/
          // delete) fires the t11f cycle itself when it crosses the
          // footer-read bound — a deferred call is a listing no-op, a
          // fired one is answer-preserving and safe at any crash point
          // (every compaction step is independently equivalence-
          // preserving), so it sits after the mark: a replayed batch
          // skips it and a later batch's call picks the churn up
          TextOps.bm25IndexMaintain(s, indexPath)
          cdcIngestFaultHook(batchId)
        }
        // else: publish-nothing replay — this (checkpoint, batchId)
        // already fully applied; only the offset commit was lost
      }
      .start()
  }

  /** Stable identity for a stream's checkpoint lineage: batch ids
    * restart at 0 under a new checkpoint, so applied-batch marks must
    * never be read across lineages. */
  private def checkpointKey(spark: SparkSession, checkpoint: String): String = {
    val canonical = new org.apache.hadoop.fs.Path(checkpoint)
      .makeQualified(org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration).getUri,
        new org.apache.hadoop.fs.Path("/")).toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  private def cdcMarkPath(indexPath: String, markName: String) =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(indexPath, TextOps.Bm25CdcMarkDir), markName)

  private def cdcMarkExists(spark: SparkSession, indexPath: String,
      markName: String): Boolean = {
    val p = cdcMarkPath(indexPath, markName)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def writeCdcMark(spark: SparkSession, indexPath: String,
      markName: String): Unit = {
    val p = cdcMarkPath(indexPath, markName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    // create-once, empty content: existence IS the mark (nothing to
    // tear — no rename or overwrite protocol needed)
    fs.create(p, false).close()
  }

  // Test seam: invoked with the batch id AFTER a CDC micro-batch's
  // verbs land and its applied-batch mark is written, BEFORE the
  // checkpoint commits the offset. A spec throws from it to simulate
  // the offset-commit-crashed restart — the redelivered batch must
  // find its mark and publish nothing. Identity in production.
  private[graft] var cdcIngestFaultHook: Long => Unit = _ => ()

  // Test seam: invoked with each micro-batch BEFORE the v9d append. A
  // spec simulates a crash mid-append by landing a PARTIAL slice of
  // the batch and then throwing — the exact state a killed append
  // job's already-committed tasks leave (some of the batch's rows
  // visible in cell dirs, the batch unacknowledged). Identity in
  // production.
  private[graft] var ivfIngestFaultHook: DataFrame => Unit = _ => ()

  /** Streaming ingestion into the landed ANN index — the st4
    * composition applied to the VECTOR tier: embedding batches arrive
    * as files and append through [[graft.operators.Similarity
    * .ivfIndexAppend]] (the v9d seam, unchanged), so the index serves
    * nearest-neighbor queries continuously while the corpus grows.
    * Exactly-once by the same argument as the lexical stream: the
    * checkpoint gives batches stable identity, and the append is
    * idempotent PER VECTOR — the index itself is the ledger (already-
    * landed vec_ids anti-join away, probe bounded to the delta's own
    * cells), so retries, restarts, and full redelivery under a fresh
    * checkpoint publish nothing. Single publish step (one
    * partitioned append), so there is no multi-artifact mid-publish
    * window to recover — the `_ingestlog` redo log is the lexical
    * index's three-artifact problem, not this one's. */
  def ivfIndexIngest(spark: SparkSession, incomingDir: String,
      indexPath: String, checkpoint: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      queryName: String =
        "ivf_index_ingest_" + java.util.UUID.randomUUID().toString.take(8)): StreamingQuery = {
    spark.readStream.schema(schema.getOrElse(Tables.parquet(spark, incomingDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(incomingDir)
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ivfIngestFaultHook(batch)
        graft.operators.Similarity.ivfIndexAppend(batch.sparkSession, indexPath, batch)
        // the reclaim cadence POLICY, wired into the vector front door
        // exactly like the CDC stream's bm25IndexMaintain call: a
        // deferred call is a listing no-op; a fired one rewrites only
        // over-fragmented cells and is answer-preserving at any crash
        // point (stage-and-rename per cell)
        graft.operators.Similarity.ivfIndexMaintain(batch.sparkSession, indexPath)
        ()
      }
      .start()
  }
}
