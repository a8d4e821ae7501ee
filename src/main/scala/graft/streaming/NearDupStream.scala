package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming NEAR-dup discovery at ingest — d3's MinHash-LSH tier run
  * CONTINUOUSLY (the st8 discipline extended from exact digests to the
  * banded similarity space). Documents arrive; each micro-batch
  * computes signatures for its own rows only, collides its band
  * buckets against the LANDED bucket index, exactly verifies the
  * candidates, and appends three artifacts: the discovered pairs, the
  * batch's bucket rows, and the batch's docs. The batch tier
  * ([[Dedup.minhashLshPairs]], reference dedupe_donors.py's periodic
  * full-table pass) re-signatures the corpus per run; at 100 TB the
  * production shape is this one — per-arrival work is batch-sized map
  * compute plus keyed index probes, never a corpus re-scan.
  *
  * Once-discovery across batches needs no bookkeeping: a pair is found
  * when its LATER member arrives (the earlier member is already in the
  * bucket index, the later one is not yet — the g2b "count at the
  * minimum new corner" argument, with arrival order as the age).
  * Within a batch, a_id < b_id on the self-collision plus a distinct
  * across bands counts each pair once.
  *
  * ONE LEDGER, ONE BARRIER (round-12 task #2): the three artifacts
  * publish ATOMICALLY through [[IngestCommit.stageAndPublishLazy]] —
  * staged fully, claimed in the `_ingestlog` redo log, renamed in,
  * replayed to completion by [[IngestCommit.recover]] at stream start
  * if a crash interrupts the renames. All-or-nothing publish is what
  * lets the per-artifact replay ledgers go: only the docs landing
  * (the arrival authority) is read per batch, and a retried batch, a
  * restart, or a full redelivery under a fresh checkpoint publishes
  * NOTHING because its docs anti-join away. The round-12 shape — an
  * anti-join ledger per artifact so a torn three-append publish could
  * be completed piecewise — measured ~3× st8's per-batch wall, all
  * fixed bookkeeping (3 ledger reads + 5 localCheckpoints + 3 append
  * barriers); the one-barrier commit removes exactly that stack. The
  * docs landing doubles as the verify corpus: exact-Jaccard
  * verification reads old-side texts from it semi-joined to the
  * (tiny) candidate id set — candidate-sized, never a scan.
  *
  * Determinism: the signature, banding, and verify functions are the
  * batch tier's own (same seeds, same md5-band buckets, same hashed
  * shingle verify), so the accumulated pair table equals
  * [[Dedup.minhashLshPairs]] as a SET at any micro-batching and under
  * any arrival order — pair discovery is order-dependent only in
  * WHICH batch finds a pair, never in whether or what it finds. The
  * gate form (`st9_neardup_stream`) shares d3's oracle SQL verbatim.
  */
object NearDupStream {

  /** Start the ingest stream: parquet document files arriving under
    * `incomingDir` maintain the LSH index rooted at `indexPath`
    * (`docs/`, `buckets/`, `pairs/`), one file per micro-batch. Any
    * publish a previous run's crash left mid-rename is replayed to
    * completion before the first batch. */
  def minhashIngest(spark: SparkSession, incomingDir: String,
      indexPath: String, checkpoint: String, threshold: Double = 0.8,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      queryName: String =
        "neardup_ingest_" + java.util.UUID.randomUUID().toString.take(8)): StreamingQuery = {
    IngestCommit.recover(spark, indexPath)
    spark.readStream.schema(schema.getOrElse(Tables.parquet(spark, incomingDir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(incomingDir)
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        neardupAppend(batch.sparkSession, batch, indexPath, threshold)
      }
      .start()
  }

  // the _ledger_index sidecar alone is not a landed table (a crash
  // between the bloom-ahead index write and the first publish leaves
  // exactly that state)
  private[graft] def readIfExists(s: SparkSession, path: String): Option[DataFrame] =
    if (Tables.hasParquetData(s, path)) Some(Tables.parquet(s, path)) else None

  /** Shard count for the landed bucket table's (band, bshard)
    * partitioned layout (the t11b treatment — round-13 verdict task
    * #1): collision probes read only the arriving rows' (band, shard)
    * dirs instead of scanning the whole bucket table per batch. 16
    * shards × LshBands dirs keeps per-batch fragmentation bounded
    * (compaction reclaims it per cycle) while a small batch's probe
    * touches a fraction of the dirs. */
  private[graft] val BucketShards = 16

  private[graft] def withShard(buckets: DataFrame): DataFrame =
    buckets.withColumn("bshard",
      pmod(xxhash64(col("bucket")), lit(BucketShards.toLong)).cast("int"))

  /** The bucket sidecar's key: one long per (band, bucket) row. The
    * sidecar merge and the probe below MUST hash identically —
    * both go through this column. */
  private[graft] def bucketKey: org.apache.spark.sql.Column =
    xxhash64(col("band"), col("bucket"))

  /** Batch-key collect bound for the bloom gate (the LedgerIndex
    * DriverPutMax discipline): a micro-batch's distinct (band, bucket)
    * set is bands × batch docs; a bulk bootstrap past the bound skips
    * the gate and takes the partition-pruned full probe once. */
  private[graft] val BucketGateMax = 100000

  /** Bound on the `bucket IN (hits)` ROW filter the gated probe pushes
    * into the landed bucket read (round-17, VERDICT r16 #2): `hits` is
    * bounded by [[BucketGateMax]], and a near-bound batch would build a
    * ~100k-literal In expression — analyzer/codegen stress and a
    * driver-side plan blowup — while still being "within bounds" (the
    * verifyOverTexts probe already measured a ~1000-literal pushed isin
    * LOSING to the scan it prunes). Past this many distinct hit
    * buckets the probe keeps only the (band, bshard) PARTITION filter;
    * correctness is unchanged either way (the row filter is a pruning
    * hint — the (band, bucket) collision join discards non-hits
    * regardless). 1024 literals is comfortably inside In-expression
    * codegen limits while covering every steady-state batch (typical
    * gated batches hit a handful of keys). */
  private[graft] val BucketInFilterMax = 1024

  /** Bloom-AHEAD merge of a batch's bucket keys into the bucket
    * table's `_ledger_index` sidecar — called from the ingest verbs'
    * `alongsideStaging` (the same barrier as the docs/exact sidecar
    * merge, so a crash anywhere in the window leaves at most bloom
    * keys for bucket rows that never landed: extra probe reads later,
    * never a missed collision). When the gate already collected the
    * batch's key hashes ([[prunedLandedBucketsGated]]), the merge is
    * driver-only — ZERO extra Spark jobs per batch; otherwise (bulk
    * bootstrap, no landed table yet) one batch-sized fold runs. */
  private[graft] def mergeBucketIncrement(s: SparkSession, path: String,
      freshBuckets: DataFrame, gateHashes: Option[Array[Long]]): Unit =
    gateHashes match {
      case Some(hs) =>
        LedgerIndex.mergeHashes(s, path, hs, LedgerIndex.read(s, path))
      case None =>
        LedgerIndex.mergeIncrement(s, path,
          freshBuckets.select(bucketKey.as("bkey")).distinct(), "bkey",
          LedgerIndex.read(s, path))
    }

  /** The landed bucket table PRUNED for a batch's collision probe —
    * two tiers (round 16, VERDICT r15 #2):
    *
    *  1. BLOOM GATE over (band, bucket) keys: the (band, bshard)
    *     partition pruning alone stops biting once a batch's key set
    *     covers every shard (a 500-doc batch at 16 bands hits all
    *     16×16 dirs — the measured st9/st10 1000× term, an 80M-row
    *     bucket-column scan per batch). Value ZONE MAPS cannot fix
    *     this: bucket keys are uniform 60-bit hashes, so any fragment's
    *     min/max spans the keyspace and ~8k uniform batch keys
    *     intersect every range. A bloom over the LANDED keys can: a
    *     batch key the bloom misses definitely has no landed partner
    *     (no false negatives), so the common mostly-fresh batch
    *     collides on FEW OR NO keys — `None` (the landed table never
    *     opened) or a probe pruned to the HIT keys' partitions plus a
    *     `bucket IN (hits)` row filter (parquet row-group stats prune
    *     the fragment scan). Lossless by the no-false-negative
    *     argument; FPs only add rows the (band, bucket) join then
    *     discards.
    *  2. the original (band, bshard) PARTITION filter, now built from
    *     the hit keys (or from the full batch key set when the gate is
    *     skipped: empty-bloom index, or a bulk batch past
    *     [[BucketGateMax]]).
    *
    * The sidecar rebuilds from the landed table on first open
    * (pre-sidecar vintages) and resizes by the LedgerIndex rules. */
  private[graft] def prunedLandedBuckets(s: SparkSession, path: String,
      freshBuckets: DataFrame): Option[DataFrame] =
    prunedLandedBucketsGated(s, path, freshBuckets)._1

  /** [[prunedLandedBuckets]] plus the gate's collected batch-key
    * hashes (xxhash64 of [[bucketKey]]), so the verbs' sidecar merge
    * reuses the ONE bounded collect instead of running its own job —
    * `None` hashes when no landed table exists yet or the batch
    * overflowed the gate bound (the bulk-bootstrap fold path). */
  private[graft] def prunedLandedBucketsGated(s: SparkSession, path: String,
      freshBuckets: DataFrame): (Option[DataFrame], Option[Array[Long]]) = {
    var gateHashes: Option[Array[Long]] = None
    val pruned = readIfExists(s, path).flatMap { lb0 =>
      // a table landed by pre-long-key or pre-partitioned code is
      // MIGRATED in place (one staged rewrite, swapArtifact's
      // retire-then-publish renames) BEFORE this batch publishes:
      // read-side conversion alone wedged the index permanently
      // (round-15 ADVICE, medium) — the same batch then published
      // long-keyed (band, bshard) files into the same live dir, so the
      // next batch's parquet read met mixed string/bigint `bucket`
      // schemas and flat-vs-partitioned directory structures, and no
      // stream-bucket compaction verb existed to do the promised
      // rewrite. The migration is safe under the stream's single-writer
      // contract and runs at most once per index lifetime.
      val legacyKey =
        lb0.schema("bucket").dataType == org.apache.spark.sql.types.StringType
      val lb =
        if (legacyKey || !lb0.columns.contains("bshard")) {
          val converted0 =
            if (legacyKey)
              // same 60-bit md5 prefix md5Long keeps — the long-keyed
              // table joins the new fresh side exactly; no signature
              // recompute needed
              lb0.withColumn("bucket",
                conv(substring(col("bucket"), 1, 15), 16, 10).cast("bigint"))
            else lb0
          val converted =
            if (converted0.columns.contains("bshard"))
              // bshard dirs hashed from the STRING key don't match the
              // long key's hash — recompute so pruning stays lossless
              withShard(converted0.drop("bshard"))
            else withShard(converted0)
          graft.operators.TextOps.swapArtifact(s, path,
            converted.select(col("doc_id"), col("bucket"), col("band"),
              col("bshard")),
            partitionCols = Seq("band", "bshard"))
          Tables.parquet(s, path)
        } else lb0
      val idx = LedgerIndex.readOrRebuild(s, path,
        Some(lb.select(bucketKey.as("bkey"))), "bkey")
      // ONE bounded collect carries everything the gate and the
      // partition filter need: the batch's distinct keys with their
      // partition coordinate and sidecar hash (xxhash64 of the bkey
      // value — exactly what mergeIncrement put)
      val keyRows = freshBuckets
        .select(col("band"), col("bshard"), col("bucket"),
          xxhash64(bucketKey).as("h"))
        .distinct().limit(BucketGateMax + 1)
        .collect() // BOUNDED by BucketGateMax + 1
      if (keyRows.length <= BucketGateMax)
        gateHashes = Some(keyRows.map(_.getLong(3)))
      if (keyRows.isEmpty) None
      else {
        def partFilter(rows: Array[org.apache.spark.sql.Row]) = {
          val ks = rows.map(r =>
            r.getInt(0).toLong * BucketShards + r.getInt(1)).distinct.toSeq
          (col("band").cast("long") * BucketShards +
            col("bshard").cast("long")).isin(ks: _*)
        }
        val gated = idx.filter(_.bloom != null)
          .filter(_ => keyRows.length <= BucketGateMax)
          .map { i =>
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(i.bloom))
            keyRows.filter(r => bf.mightContainLong(r.getLong(3)))
          }
        gated match {
          case Some(hits) if hits.isEmpty => None // no key can collide
          case Some(hits) =>
            val parted = lb.filter(partFilter(hits))
            val hitBuckets = hits.map(_.getLong(2)).distinct.toSeq
            // row filter only while the literal list stays small (see
            // BucketInFilterMax); above it the partition filter alone
            // carries the pruning and the join discards the rest
            Some(if (hitBuckets.size <= BucketInFilterMax)
              parted.filter(col("bucket").isin(hitBuckets: _*))
            else parted)
          case None => Some(lb.filter(partFilter(keyRows)))
        }
      }
    }
    (pruned, gateHashes)
  }

  /** (doc_id, band, bucket) rows for a (doc_id, text, ...) frame — the
    * batch tier's exact signature and banding functions, map-side.
    * Docs too short to signature (null sig) emit no rows.
    *
    * The bucket key is the 60-bit md5 PREFIX as a long (Dedup.md5Long —
    * the d2 gram-hash discipline), not the 32-char hex string: the
    * landed bucket table is re-scanned by every batch's collision
    * probe, and the string key was most of its bytes (round-15 ladder:
    * the probe scan was the st9 300× growth term). Truncation is
    * firewalled by the exact verify — a key collision only ADDS a
    * candidate, which the Jaccard check then scores exactly, so an
    * output divergence needs a truly-qualifying pair that shares NO
    * true band yet collides in 60 bits (~2⁻⁵⁶ per pair). */
  private[graft] def bucketRowsOf(docs: DataFrame): DataFrame = {
    val rowsPerBand = Dedup.MinHashK / Dedup.LshBands
    val seedsA = (0 until Dedup.MinHashK).map(Dedup.seedA)
    val seedsB = (0 until Dedup.MinHashK).map(Dedup.seedB)
    val sigs = docs.select(col("doc_id"),
        graft.functions.MinHashSig(Dedup.shingles(col("text")),
          seedsA, seedsB, Dedup.MinHashP).as("sig"))
    val bandBucket = (0 until Dedup.LshBands).map { b =>
      Dedup.md5Long(concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*))
    }
    // null sigs emit an empty band array (no rows after posexplode)
    // instead of a `.filter(sig IS NOT NULL)`: predicate pushdown
    // alias-substitutes such a filter below the projection and the
    // batch pays the MinHash pass TWICE per doc (round 17 — the d3
    // minhashLshPairs treatment; this path has no cache to contain it,
    // so every micro-batch paid the duplication)
    sigs.select(col("doc_id"),
      posexplode(when(col("sig").isNotNull, array(bandBucket: _*))
        .otherwise(lit(Array.empty[Long]))).as(Seq("band", "bucket")))
  }

  /** Candidate pairs (a_id < b_id, distinct) for a batch's bucket rows:
    * fresh×landed collisions (keyed probe of the index — at scale the
    * bucket table partitions by (band, bucket)) plus fresh×fresh within
    * the batch. Shared by the st9 and st10 ingest verbs. */
  private[graft] def collisionCandidates(freshBuckets: DataFrame,
      landedBuckets: Option[DataFrame]): DataFrame = {
    val within = freshBuckets.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .join(freshBuckets.select(col("doc_id").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val all = landedBuckets match {
      case Some(lb) => within.unionByName(
        freshBuckets.select(col("doc_id").as("n_id"), col("band"), col("bucket"))
          .join(lb.select(col("doc_id").as("o_id"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          // n_id == o_id guard: if the landed index ever holds a fresh
          // doc's own bucket rows, those rows would become (x,x)
          // self-candidates that verify at jaccard 1.0 and poison the
          // pairs table permanently. The atomic publish makes that
          // state unreachable from this stream's own crash windows
          // (round-12 ADVICE found it reachable under the old
          // three-append publish); the guard stays as defense in depth
          // — the landed dirs are plain parquet anyone can write.
          .filter(col("n_id") =!= col("o_id"))
          .select(least(col("n_id"), col("o_id")).as("a_id"),
            greatest(col("n_id"), col("o_id")).as("b_id")))
      case None => within
    }
    all.distinct()
  }

  /** Like [[collisionCandidates]] but preserving WHICH side of each
    * collision is the ARRIVING doc: returns (a_id, b_id, drop_id)
    * where (a_id < b_id) canonicalizes the pair for verification and
    * drop_id names the doc an ingest-time curation rule discards —
    * the greater id within a batch (simultaneous arrival, batch c1's
    * rule) and the ARRIVING side against the landed corpus regardless
    * of id order (the landed copy was already served). Landed bucket
    * rows whose doc is still in the fresh batch — reachable only via
    * a retried partial publish where buckets landed before the
    * arrival ledger — are excluded from the landed side, so a retry
    * reaches the same drop decisions as a clean run (those pairs
    * appear on the within-batch path with the within-batch rule). */
  private[graft] def collisionCandidatesWithRoles(freshBuckets: DataFrame,
      landedBuckets: Option[DataFrame]): DataFrame = {
    val within = freshBuckets.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .join(freshBuckets.select(col("doc_id").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("b_id").as("drop_id"))
    val all = landedBuckets match {
      case Some(lb) =>
        val freshIds = freshBuckets.select(col("doc_id")).distinct()
        val genuinelyLanded = lb.join(freshIds, Seq("doc_id"), "left_anti")
        within.unionByName(
          freshBuckets.select(col("doc_id").as("n_id"), col("band"), col("bucket"))
            .join(genuinelyLanded.select(col("doc_id").as("o_id"), col("band"), col("bucket")),
              Seq("band", "bucket"))
            .select(least(col("n_id"), col("o_id")).as("a_id"),
              greatest(col("n_id"), col("o_id")).as("b_id"),
              col("n_id").as("drop_id")))
      case None => within
    }
    // drop_id is a function of the pair and its path, and the two paths
    // are disjoint (within needs both sides fresh; landed excludes fresh
    // docs), so distinct keeps exactly one row per canonical pair
    all.distinct()
  }

  /** Exact-Jaccard verification of `cand` over texts drawn from the
    * batch plus the landed corpus, candidate-sized. The candidate id
    * set is COLLECTED (bounded: one id per candidate endpoint, a
    * batch-dup-sized shortlist — the Similarity shortlist discipline)
    * and its [min, max] RANGE pushed as a two-literal filter into the
    * landed text read — parquet file/row-group doc_id statistics prune
    * the scan (the one-file-per-batch docs layout gives tight per-file
    * ranges) — while the exact membership stays a broadcast semi-join.
    * Measured ladder (stprobe, sf0.1 landed index, 500-doc append):
    * plain semi-join 1.18 s (every landed text byte streams through
    * the join); a ~1000-literal isin pushed instead 2.01 s (the In
    * expression tree costs more than the scan it saves — REFUTED);
    * range + semi-join keeps the scan pruned at two literals. */
  private[graft] def verifyOverTexts(cand: DataFrame, freshTexts: DataFrame,
      landedTexts: Option[DataFrame], threshold: Double): DataFrame = {
    val s = cand.sparkSession
    // ONE bounded driver collect (the candidate ids — a batch-dup-sized
    // shortlist): the id set becomes a LOCAL relation the semi-join
    // broadcasts for free. The batch's own ids are NOT collected — a
    // large batch file must not turn into an unbounded driver collect —
    // so the old-side split is derived distributively below.
    val idArr = cand.select(col("a_id")).union(cand.select(col("b_id")))
      .distinct().collect().map(_.getLong(0)) // BOUNDED: candidate-sized
    val candIds = s.createDataset(idArr.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("doc_id")
    val texts = landedTexts
      .map { d =>
        // bounds over the OLD-side candidates only: the batch's own ids
        // are typically the table's largest (ids grow with arrival), so
        // a range over ALL candidate ids would span the whole table.
        // Old = candidate − fresh, computed as two candidate-sized
        // broadcast joins (one column-pruned batch scan) reduced to two
        // driver scalars — never a whole-batch collect.
        val freshCand = freshTexts.select(col("doc_id"))
          .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        val oldBounds = candIds
          .join(broadcast(freshCand), Seq("doc_id"), "left_anti")
          .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
          .head()
        val pruned =
          if (oldBounds.isNullAt(0)) d.filter(lit(false))
          else d.filter(col("doc_id").between(
            oldBounds.getLong(0), oldBounds.getLong(1)))
        freshTexts.unionByName(pruned.select(col("doc_id"), col("text")))
      }
      .getOrElse(freshTexts)
    // pinned: verifyCandidates consumes the gram frame TWICE (per-doc
    // counts + the common-gram join) — unpinned, the text scan and
    // shingling run twice (measured ~0.5 s of the append)
    val hashed = texts.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("gram"))
      .select(col("doc_id"), Dedup.md5Long(col("gram")).as("gram_h"))
      .localCheckpoint(true)
    // alreadyPinned: both stream callers pass a frame that is (a
    // projection of) their own cand checkpoint — consumers re-project
    // from the pin, so the re-pin inside verifyCandidates was a pure
    // extra job barrier
    try Dedup.verifyCandidates(cand, hashed, threshold, alreadyPinned = true)
      .localCheckpoint(true)
    finally { hashed.unpersist(); () }
  }

  /** The per-batch verb, shared with the scale probe. */
  private[graft] def neardupAppend(s: SparkSession, batch: DataFrame,
      indexPath: String, threshold: Double): Unit = {
    // the ONE ledger read: the docs landing is the arrival authority,
    // fronted by the LedgerIndex bloom (round-13 verdict task #1) —
    // never-seen doc_ids pass with zero landed bytes read; only bloom
    // hits stream the landed doc_id column past a broadcast candidate
    // set (no corpus shuffle). The atomic publish guarantees no other
    // artifact can be partially present, so pairs and buckets carry no
    // ledgers of their own.
    val docsPath = s"$indexPath/docs"
    val landedDocs = readIfExists(s, docsPath)
    val idx = LedgerIndex.readOrRebuild(s, docsPath,
      landedDocs.map(_.select(col("doc_id"))), "doc_id")
    // filterFresh returns its own pin (one materialization covers the
    // bloom split's consumers — re-checkpointing it here was measured
    // as a pure duplicate batch materialization, round-15 task #2)
    val b = batch.select(col("doc_id"), col("text"))
    val fresh = (landedDocs, idx) match {
      case (Some(d), Some(i)) =>
        LedgerIndex.filterFresh(b, "doc_id", i, d.select(col("doc_id")))
      case _ => b.localCheckpoint(true)
    }
    if (fresh.isEmpty) return // replayed batch: publish NOTHING

    // batch-sized signature map — the batch tier's exact functions —
    // with the (band, bshard) partition key the landed layout prunes by
    val freshBuckets = withShard(bucketRowsOf(fresh)).localCheckpoint(true)

    // candidates: fresh×landed collisions + fresh×fresh, distinct
    // across bands; the landed side reads ONLY the arriving (band,
    // shard) dirs of the partitioned bucket table
    val (landedBuckets, gateHashes) =
      prunedLandedBucketsGated(s, s"$indexPath/buckets", freshBuckets)
    val cand = collisionCandidates(freshBuckets, landedBuckets)
      .localCheckpoint(true)

    // one barrier: all three artifacts stage CONCURRENTLY, the bloom-
    // sidecar merge rides the same barrier (alongsideStaging — awaited
    // before the claim, so it is still bloom-AHEAD of the publish: a
    // crash anywhere in the window leaves at most bloom entries the
    // exact verify corrects on retry, never published docs outside the
    // bloom), then everything publishes atomically (docs — the
    // authority — renamed last). The pairs artifact is a THUNK: the
    // exact verify (candidate texts over batch + landed docs, pinned
    // inside) is itself ~1 s of eager work that the buckets/docs writes
    // hide when it runs on the pairs staging thread instead of ahead
    // of the whole barrier.
    // docs land RANGE-partitioned by doc_id: the verify's old-side read
    // prunes by a candidate id RANGE through parquet file statistics,
    // which only bites when files carry tight disjoint ranges — per
    // batch that is nearly free (a batch is one id run), and at the
    // bulk-bootstrap landing it is the one shuffle that keeps every
    // later batch's text read candidate-sized instead of corpus-sized
    // (round-15 ladder: full-range bootstrap files made the landed text
    // scan the st9/st10 growth term)
    IngestCommit.stageAndPublishLazy(s, indexPath, Seq(
      "pairs" -> (() =>
        if (cand.isEmpty) cand.withColumn("jaccard", lit(0.0d))
        else verifyOverTexts(cand, fresh, landedDocs, threshold)),
      "buckets" -> (() => freshBuckets),
      "docs" -> (() => fresh.repartitionByRange(col("doc_id")))),
      partitioned = Map("buckets" -> Seq("band", "bshard")),
      alongsideStaging = () => {
        LedgerIndex.mergeIncrement(s, docsPath,
          fresh.select(col("doc_id")), "doc_id", idx)
        // bucket-key sidecar, same bloom-AHEAD barrier (round 16 —
        // the st9/st10 collision-probe gate); driver-only when the
        // gate's collect already holds the batch's key hashes
        mergeBucketIncrement(s, s"$indexPath/buckets", freshBuckets, gateHashes)
      })
  }
}
