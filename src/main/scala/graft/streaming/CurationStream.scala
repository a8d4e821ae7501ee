package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Curation, Dedup, TextOps}

/** CURATION AT INGEST — the training-corpus front door as one stream:
  * quality gate → exact dedup → near-dup gate, applied per
  * micro-batch as documents arrive, so the curated table is always
  * current instead of rebuilt by a periodic corpus pass (c1's batch
  * composition; reference load_donations.py + dedupe_donors.py run
  * these as separate batch jobs over the full table).
  *
  * The near-dup tier here is the MinHash-LSH one — exactly the swap
  * c1's scaladoc names as the 100 TB path ("constant-size signatures
  * decouple join width from document length"), and the only pair tier
  * that is INCREMENTALLY computable at all: c1's d2 tier excludes
  * grams by corpus-wide document frequency, a global property no
  * arrival-time decision can know, while MinHash signatures are pure
  * per-doc functions, so band collisions against the landed index
  * find exactly the batch-tier candidate set regardless of batching.
  *
  * Drop rule — ARRIVAL-AUTHORITATIVE, implemented by carrying each
  * candidate's roles through verification
  * ([[NearDupStream.collisionCandidatesWithRoles]]'s drop_id) rather
  * than canonicalizing them away: within a batch the greater id drops
  * (simultaneous arrival, batch c1's tie rule); against the landed
  * corpus the ARRIVING side drops regardless of id order (what
  * ingest-time curation means in production: the landed copy was
  * already served). Under the gate's pinned arrival order (= doc_id
  * order) the arriving side IS the greater id, so the rollup equals
  * c1's batch rule and is oracle-checked end-to-end against the
  * one-statement SQL composition; under out-of-order arrival the
  * stream keeps the first arrival and drops the smaller-id late
  * twin — the divergence from the batch id rule is pinned by spec
  * (CurationStreamSpec's permuted-arrival case), not just stated.
  *
  * Dropped docs STAY in the exact table and the bucket index: batch
  * c1 computes pairs over ALL exact survivors (a doc dropped for
  * pairing with one neighbor still drops its own later neighbors), so
  * the index must carry them — only the curated landing excludes them.
  *
  * ONE LEDGER, ONE BARRIER (the st9 rule, round-12 task #2): the
  * three artifacts publish atomically through
  * [[IngestCommit.stageAndPublishLazy]] (staged → redo record claimed →
  * renamed in, replayed to completion by [[IngestCommit.recover]] at
  * stream start), so only the exact table — the arrival authority —
  * is read as a ledger (anti-join on digest). A retried batch, a
  * restart, or a full redelivery publishes NOTHING; no crash can
  * leave a partial artifact subset for a retry to reason about.
  *
  * At 100 TB: per-batch work is batch-sized map compute (tokens,
  * digest, signature) plus keyed probes of the digest and bucket
  * ledgers; the verify is candidate-sized. No stage re-scans the
  * corpus. */
object CurationStream {

  /** Start the ingest stream: parquet document files arriving under
    * `incomingDir` maintain the curated corpus rooted at `rootPath`
    * (`exact/`, `buckets/`, `curated/`), one file per micro-batch. Any
    * publish a previous run's crash left mid-rename is replayed to
    * completion before the first batch. */
  def curateIngest(spark: SparkSession, incomingDir: String,
      rootPath: String, checkpoint: String, threshold: Double = 0.8,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      queryName: String =
        "curate_ingest_" + java.util.UUID.randomUUID().toString.take(8)): StreamingQuery = {
    IngestCommit.recover(spark, rootPath)
    spark.readStream.schema(schema.getOrElse(Tables.parquet(spark, incomingDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(incomingDir)
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        curateAppend(batch.sparkSession, batch, rootPath, threshold)
      }
      .start()
  }

  /** The per-batch verb, shared with the scale probe. */
  private[graft] def curateAppend(s: SparkSession, batch: DataFrame,
      rootPath: String, threshold: Double): Unit = {
    import NearDupStream.{bucketRowsOf, collisionCandidatesWithRoles,
      readIfExists, verifyOverTexts, withShard}
    val exactPath = s"$rootPath/exact"
    val bucketsPath = s"$rootPath/buckets"

    // quality gate + within-batch exact dedup (min-doc_id winner per
    // digest — one partial-agged aggregate, batch-sized)
    val winners = batch
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") >= Curation.MinTokens)
      .withColumn("digest", md5(col("text")))
      .groupBy(col("digest"))
      .agg(min(struct(col("doc_id"), col("text"), col("lang"),
        col("n_tokens"))).as("w"))
      .select(col("w.doc_id"), col("w.text"), col("w.lang"),
        col("w.n_tokens"), col("digest"))
    // (filterFresh pins the flagged frame itself — one materialization
    // covers the bloom split's three consumers)

    // cross-batch exact dedup: the exact table is the digest ledger,
    // fronted by the LedgerIndex bloom (the st8 discipline) — never-
    // seen digests pass with zero landed bytes read; only bloom hits
    // stream the landed digest column past a broadcast candidate set
    val landedExact = readIfExists(s, exactPath)
    val idx = LedgerIndex.readOrRebuild(s, exactPath,
      landedExact.map(_.select(col("digest"))), "digest")
    val freshEx = (landedExact, idx) match {
      case (Some(d), Some(i)) =>
        LedgerIndex.filterFresh(winners, "digest", i, d.select(col("digest")))
      case _ => winners.localCheckpoint(true)
    }
    if (freshEx.isEmpty) return // replayed batch: publish NOTHING

    // near-dup gate: band collisions against the landed index with the
    // arriving side of each candidate tracked (drop_id), exact verify
    // on the canonical pair, drop the tracked side of every qualifier.
    // The landed side reads ONLY the arriving (band, shard) dirs of
    // the partitioned bucket table (the st9 layout).
    val freshBuckets = withShard(bucketRowsOf(freshEx)).localCheckpoint(true)
    val (landedBuckets, gateHashes) =
      NearDupStream.prunedLandedBucketsGated(s, bucketsPath, freshBuckets)
    val cand = collisionCandidatesWithRoles(freshBuckets, landedBuckets)
      .localCheckpoint(true)
    // the curated artifact's derivation (verify + drop anti-join) is a
    // THUNK: it runs on its staging thread, overlapped with the
    // buckets/exact writes (the st9 rule — see NearDupStream)
    def curatedRows(): DataFrame =
      if (cand.isEmpty) freshEx
      else {
        val verified = verifyOverTexts(cand.select(col("a_id"), col("b_id")),
          freshEx.select(col("doc_id"), col("text")), landedExact, threshold)
        // drop_id is always a FRESH doc (within: the greater of two
        // fresh ids; landed: the arriving side), so the anti-join on
        // the batch is the complete drop action
        val dropIds = verified.join(cand, Seq("a_id", "b_id"))
          .select(col("drop_id").as("doc_id")).distinct()
        freshEx.join(dropIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
      }

    // one barrier: all three artifacts stage CONCURRENTLY with the
    // bloom-sidecar merge riding the same barrier (alongsideStaging is
    // awaited before the claim — still bloom-AHEAD of the publish, the
    // LedgerIndex ordering rule), then publish atomically (exact — the
    // arrival authority — renamed last). The atomic publish is what
    // lets curated and buckets carry no ledgers of their own: no crash
    // leaves a partial subset.
    // exact lands RANGE-partitioned by doc_id (the st9 docs rule): it is
    // the verify's old-side text source, and tight per-file id ranges
    // are what let the candidate-range filter prune its scan
    IngestCommit.stageAndPublishLazy(s, rootPath, Seq(
      "curated" -> (() => curatedRows()),
      "buckets" -> (() => freshBuckets),
      "exact" -> (() => freshEx.repartitionByRange(col("doc_id")))),
      partitioned = Map("buckets" -> Seq("band", "bshard")),
      alongsideStaging = () => {
        LedgerIndex.mergeIncrement(s, exactPath,
          freshEx.select(col("digest")), "digest", idx)
        // bucket-key sidecar, same bloom-AHEAD barrier (round 16 —
        // the st9/st10 collision-probe gate); driver-only when the
        // gate's collect already holds the batch's key hashes
        NearDupStream.mergeBucketIncrement(s, bucketsPath, freshBuckets, gateHashes)
      })
  }
}
