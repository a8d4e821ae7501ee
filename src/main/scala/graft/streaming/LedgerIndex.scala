package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Bloom-fronted ledger reads for the ingest streams — the round-13
  * verdict's one measured growth term closed. st8/st9/st10 each read a
  * landed ledger per micro-batch to decide batch freshness (survivor
  * digests, the docs arrival authority, the exact table); as plain
  * anti-joins those reads SHUFFLE a corpus-cardinality column every
  * batch, so a continuously-running ingest stream pays a corpus-shaped
  * cost per arrival (the 300× ladder measured st8 itself growing 3×
  * from 100× to 300×). This sidecar applies d8's discipline
  * ([[Dedup.DigestIndex]]: one `BloomFilterAggregate` fold, probed
  * map-side via `BloomFilterMightContain`) to the streams' ledgers,
  * MAINTAINED incrementally (the CorpusStream merge rule) instead of
  * re-folded:
  *
  *  - the index lives in a `_ledger_index` sidecar dir next to the
  *    ledger (underscore → invisible to parquet discovery);
  *  - per batch, keys the bloom has NEVER seen are definitely fresh
  *    (no false negatives) with ZERO landed bytes read; only the
  *    possibly-seen candidates (true re-arrivals + ~1% FPs) trigger
  *    one landed pass — the ledger's key column STREAMED past a
  *    broadcast of the candidate set, never hash-shuffled — and a
  *    batch with no candidates (the steady all-fresh state) touches
  *    the ledger not at all;
  *  - the increment merges into the sidecar BEFORE the batch's rows
  *    land (bloom-AHEAD ordering): a crash between the index write
  *    and the landing leaves bloom entries for rows that never landed,
  *    which the exact verify against the authoritative ledger corrects
  *    on retry (extra FPs, never a false negative). The reverse order
  *    would let a crash mid-landing leave landed rows OUTSIDE the
  *    bloom — "definitely fresh" re-appends, i.e. duplicates.
  *  - the sidecar is a BASE bloom (`index.bin`) plus a bounded DELTA
  *    JOURNAL (`delta_<seq>.bin`, one per steady-state batch, just the
  *    batch's key hashes — round 16, VERDICT r15 #1): the base is
  *    ledger-sized, so rewriting it per batch was the measured
  *    300→1000× step of the st8 ladder (0.61→2.17 s — the whole
  *    ~35 MB bloom to the FS per 500-doc batch); the journal write is
  *    batch-proportional and corpus-INDEPENDENT, and the base rewrite
  *    amortizes across the compaction window. Every file (base and
  *    delta) lands tmp+OVERWRITE-rename — complete or absent, never
  *    torn;
  *  - a missing sidecar (a crashed write or a pre-sidecar ledger)
  *    REBUILDS by folding the ledger's key column once — the
  *    per-compaction-cycle rebuild the d8 scaladoc names; `n_landed`
  *    may drift upward across retries and across a compaction-
  *    interrupting crash (stale deltas re-apply onto the new base —
  *    the bloom OR is idempotent, the count is advisory sizing input
  *    only).
  *
  * SINGLE-WRITER CONTRACT (round 16, VERDICT r15 #6): one stream query
  * owns a ledger root — that is what lets the in-process memo stand in
  * for the files after the per-batch presence check, and what makes
  * the journal's sequence numbering safe. A second concurrent writer
  * process would interleave journal sequences and silently clobber
  * increments; the streams' checkpoint ownership (one checkpoint, one
  * query — documented at the ingest verbs) is the enforcement. An
  * externally-DROPPED sidecar (operator reset) is detected by the
  * per-batch presence check and rebuilt; an externally-REPLACED one is
  * served from the memo until the owning process restarts —
  * DedupStreamSpec pins both behaviors.
  *
  * At 100 TB the sidecar is exactly the compact digest index the d8
  * scaladoc says the sink maintains: ~1.2 GB per 10^9 keys at 1% FP,
  * held in driver memory, probed driver-side per batch, rewritten only
  * at compaction cadence. */
private[graft] object LedgerIndex {

  import org.apache.spark.util.sketch.BloomFilter

  val Dir = "_ledger_index"
  private val FileName = "index.bin"

  /** A ledger's merged index as a stream holds it between batches: the
    * key count, the sizing tier, and the LIVE bloom (null for an index
    * rebuilt from an empty ledger). The bloom is probed and put into in
    * place and serialized only for a base write: a 2^20-key bloom at
    * 1e-5 is 3,140,848 bytes, and a JDK 17 round trip of it costs
    * about 10-12 ms each way, which st8 paid three times per batch when
    * the memo held bytes. A put runs before the write that records it
    * (bloom-ahead), so a failed write leaves keys in the live bloom for
    * rows that never landed: false positives the exact verify absorbs,
    * never a false negative. */
  final case class Index(nLanded: Long, expectedItems: Long, bloom: BloomFilter)

  /** In-process sidecar state per ledger root: the MERGED index (base
    * bloom with every journal delta applied), plus the journal's
    * accumulated key count / file count / next sequence number. The
    * streams are single-writer per ledger (one query owns a
    * checkpoint), so within one process the memo always equals the
    * files and the per-batch read disappears. A PRESENCE check (one
    * metadata call) still runs per batch so an externally-dropped
    * sidecar (the rebuild spec, an operator reset) is honored. */
  private final case class SidecarState(idx: Index,
      deltaKeys: Long, deltaFiles: Int, nextSeq: Long)

  // not a Landing: the state advances with every batch the stream
  // commits, it is not computed once from a source
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, SidecarState]()

  /** Test seam: forget the in-process state for `root`, simulating a
    * fresh process (cold open) over the on-disk base + journal. */
  private[graft] def dropMemoForTest(root: String): Unit = { memo.remove(root); () }

  private def fsOf(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def dirPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/$Dir")

  private def filePath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/$Dir", FileName)

  private val DeltaRx = "delta_(\\d+)\\.bin".r

  /** Journal compaction bounds (round 16, VERDICT r15 #1): the base
    * bloom is LEDGER-sized (~6 MB/M keys at 1e-5), so rewriting it per
    * batch made the sidecar write ledger-bytes-proportional — the
    * measured st8 300→1000× step (0.61→2.17 s/batch, SCALE.md §2).
    * Steady-state batches now APPEND a delta journal file of just the
    * batch's key hashes (8 bytes/key — batch-proportional, corpus-
    * independent) and the full base rewrite happens only when the
    * journal reaches `MaxDeltaFiles` files or `expectedItems /
    * CompactShareInv` keys — so the amortized per-batch base-write
    * cost is bounded by bloomBytes/MaxDeltaFiles (~70 KB/batch at the
    * 5M-doc rung) and the cold-open refold is bounded by the same
    * caps. Both bounds scale with the sizing tier, keeping per-batch
    * cost flat in the corpus. */
  private[graft] val MaxDeltaFiles = 512
  private[graft] val CompactShareInv = 16L

  private def emptyBloom(expectedItems: Long): BloomFilter =
    BloomFilter.create(expectedItems, Dedup.bloomBitsFor(expectedItems, SidecarFpp))

  private def deserialize(bytes: Array[Byte]): BloomFilter =
    if (bytes == null) null
    else BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  private[graft] def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** A folded [[Dedup.DigestIndex]] (rebuild, bulk landing) as a live index. */
  private def live(d: Dedup.DigestIndex): Index =
    Index(d.nLanded, d.expectedItems, deserialize(d.bloom))

  /** tmp + OVERWRITE-rename (FileContext — the FileSystem.rename
    * contract won't replace an existing dst, and a delete-then-rename
    * window would leave NO file on a crash in between): a crash leaves
    * either the old complete file or the new complete file, never a
    * torn one and never neither. */
  private def atomicWrite(s: SparkSession, dst: org.apache.hadoop.fs.Path)(
      body: java.io.DataOutputStream => Unit): Unit = {
    val fs = fsOf(s, dst.toString)
    fs.mkdirs(dst.getParent)
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent, s"${dst.getName}.tmp")
    val out = new java.io.DataOutputStream(fs.create(tmp, true))
    try body(out) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dst.toUri, s.sparkContext.hadoopConfiguration)
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    ()
  }

  /** Read the sidecar under `root/_ledger_index` — the base bloom plus
    * every journal delta folded in; None when the base is absent (a
    * crashed write — the tmp+rename protocol never leaves a torn file
    * — or a pre-sidecar ledger). Driver-side raw I/O — NO Spark job:
    * the sidecar is one bloom blob plus bounded delta files, and a
    * per-batch parquet read/write of it measured as three extra job
    * barriers per micro-batch on the 300× ladder (the exact
    * fixed-stack tax the one-barrier commit removed in round 12). The
    * cold-open delta fold is bounded by the compaction caps; at steady
    * state the memo serves every read after the presence check. */
  def read(s: SparkSession, root: String): Option[Index] = {
    val p = filePath(root)
    val fs = fsOf(s, root)
    if (!fs.exists(p)) { memo.remove(root); None }
    else Option(memo.get(root)).map(_.idx).orElse {
      val in = new java.io.DataInputStream(fs.open(p))
      val base = try {
        val n = in.readLong(); val expected = in.readLong()
        val len = in.readInt()
        val bloom = if (len < 0) null else {
          val b = new Array[Byte](len); in.readFully(b); b
        }
        Index(n, expected, deserialize(bloom))
      } finally in.close()
      val deltas = fs.listStatus(dirPath(root)).toSeq
        .flatMap(st => st.getPath.getName match {
          case DeltaRx(seq) => Some((seq.toLong, st.getPath))
          case _ => None
        }).sortBy(_._1)
      val st =
        if (deltas.isEmpty) SidecarState(base, 0L, 0, 0L)
        else {
          val bf = Option(base.bloom).getOrElse(emptyBloom(base.expectedItems))
          var n = base.nLanded
          var dk = 0L
          deltas.foreach { case (_, dp) =>
            val din = new java.io.DataInputStream(fs.open(dp))
            try {
              val c = din.readLong()
              var i = 0L
              while (i < c) { bf.putLong(din.readLong()); i += 1 }
              n += c; dk += c
            } finally din.close()
          }
          SidecarState(Index(n, base.expectedItems, bf),
            dk, deltas.size, deltas.last._1 + 1)
        }
      memo.put(root, st)
      Some(st.idx)
    }
  }

  /** FULL base write: the merged index lands as `index.bin` and the
    * (now folded-in) journal is cleared. Delta deletion happens AFTER
    * the base rename on purpose: a crash in between leaves stale
    * deltas that the next cold open re-applies onto the new base —
    * idempotent bloom ORs (nLanded drifts upward, advisory sizing
    * input only) — where the reverse order could lose landed keys
    * from the bloom, i.e. duplicates. */
  private def write(s: SparkSession, root: String, idx: Index): Unit = {
    val fs = fsOf(s, root)
    atomicWrite(s, filePath(root)) { out =>
      out.writeLong(idx.nLanded); out.writeLong(idx.expectedItems)
      if (idx.bloom == null) out.writeInt(-1)
      else { val b = serialize(idx.bloom); out.writeInt(b.length); out.write(b) }
    }
    val prior = memo.get(root)
    fs.listStatus(dirPath(root)).foreach { st =>
      if (DeltaRx.pattern.matcher(st.getPath.getName).matches()) {
        fs.delete(st.getPath, false); ()
      }
    }
    // seq stays monotonic across compactions so a stale delta (crash
    // between rename and deletes) can never collide with a new one
    memo.put(root, SidecarState(idx, 0L, 0,
      if (prior == null) 0L else prior.nextSeq))
    ()
  }

  /** Journal append: ONE batch-sized delta file (count + key hashes,
    * 8 bytes/key) lands atomically; the memo carries the merged view. */
  private def writeDelta(s: SparkSession, root: String, hashes: Array[Long],
      merged: Index, prior: SidecarState): Unit = {
    atomicWrite(s, new org.apache.hadoop.fs.Path(dirPath(root),
      f"delta_${prior.nextSeq}%010d.bin")) { out =>
      out.writeLong(hashes.length.toLong)
      hashes.foreach(out.writeLong)
    }
    memo.put(root, SidecarState(merged, prior.deltaKeys + hashes.length,
      prior.deltaFiles + 1, prior.nextSeq + 1))
    ()
  }

  /** Sidecar FP rate: sized so a typical all-fresh batch has NO bloom
    * hits at all (P(any FP in a B-doc batch) ≈ B × fpp), because a
    * single hit costs one streamed pass of the ledger's key column —
    * the read the sidecar exists to skip. ~24 bits/key ≈ 3 MB per 2^20
    * keys. d8's 1% sizing is for a classify tier that always verifies;
    * here the common case must VERIFY NOTHING. */
  val SidecarFpp = 1e-5

  private def sized(n: Long): Long =
    math.max(Dedup.IndexExpectedItems, java.lang.Long.highestOneBit(
      math.max(1L, 2L * n - 1L)) * 2L)

  /** The sidecar's current index, REBUILT from the authoritative
    * ledger key frame when absent (a dropped sidecar, a crashed write
    * — one fold, the compaction-cycle rebuild) and RESIZED one tier up
    * when the ledger outgrew its sizing (an overfull bloom degrades
    * toward always-hit, which silently reinstates the per-batch
    * ledger read). `landedKeys` is by-name: a first-batch call with
    * no ledger never evaluates it. */
  def readOrRebuild(s: SparkSession, root: String,
      landedKeys: => Option[DataFrame], keyCol: String): Option[Index] = {
    def rebuild(lk: DataFrame): Index = {
      val keys = lk.select(col(keyCol).as("digest"))
      val idx = live(Dedup.digestIndexOf(keys, sized(keys.count()), SidecarFpp))
      write(s, root, idx)
      idx
    }
    read(s, root) match {
      case Some(idx) if idx.nLanded > idx.expectedItems =>
        landedKeys.map(rebuild).orElse(Some(idx))
      case Some(idx) => Some(idx)
      case None => landedKeys.map(rebuild)
    }
  }

  /** Keys-per-batch bound under which the increment merges by a
    * DRIVER-SIDE put of collected xxhash64 values (one bounded collect,
    * 8 bytes/key) instead of a distributed bloom fold: folding a tiny
    * increment still allocates and ships full-width bit arrays (12 MB
    * per buffer at 4M-key sizing), which the 300× ladder measured as
    * the streams' residual per-batch slope. Batches past the bound
    * (bulk landings) take the distributed fold once. */
  private val DriverPutMax = 100000L

  /** Merge a batch increment's keys into the sidecar — call BEFORE the
    * batch's rows land (bloom-ahead ordering, see object scaladoc).
    * The fold is batch-sized; a FIRST landing (no current index) sizes
    * from its own count, so a bulk bootstrap doesn't start life
    * overfull.
    *
    * Write shape (round 16, VERDICT r15 #1): the steady-state path
    * appends ONE delta journal file of the batch's key hashes —
    * 8 bytes/key, corpus-INDEPENDENT — instead of rewriting the
    * ledger-sized base bloom every batch; the base rewrite happens
    * only at the journal's compaction bounds ([[MaxDeltaFiles]] /
    * [[CompactShareInv]]) or on a first/bulk/resize landing. The
    * delta append is tmp+rename atomic and still bloom-AHEAD: a crash
    * after the append and before the publish leaves journal keys for
    * rows that never landed — extra FP candidates the exact verify
    * absorbs on retry, never a false negative. */
  /** Driver-only increment merge for callers that ALREADY hold the
    * batch's key hashes (e.g. the bucket gate's bounded collect —
    * round 16): zero Spark jobs, same journal/compaction write path as
    * [[mergeIncrement]]'s small-batch branch. `hashes` must be the
    * xxhash64 of the key column, deduplicated by the caller and within
    * the DriverPutMax bound. */
  def mergeHashes(s: SparkSession, root: String, hashes: Array[Long],
      current: Option[Index]): Unit = {
    val n = hashes.length.toLong
    current match {
      case Some(cur) =>
        // put into the live bloom in place: no copy, no round trip
        val bf = Option(cur.bloom).getOrElse(emptyBloom(cur.expectedItems))
        hashes.foreach(bf.putLong)
        val merged = Index(cur.nLanded + n, cur.expectedItems, bf)
        memo.get(root) match {
          // no in-process state (a caller that skipped read()): a
          // journal append can't know the next safe sequence — take
          // the full base write, which clears any on-disk journal
          case null => write(s, root, merged)
          case prior if prior.deltaFiles + 1 >= MaxDeltaFiles ||
              prior.deltaKeys + n >= math.max(DriverPutMax,
                cur.expectedItems / CompactShareInv) =>
            write(s, root, merged) // compaction: fold the journal away
          case prior => writeDelta(s, root, hashes, merged, prior)
        }
      case None =>
        val e = sized(n)
        val bf = emptyBloom(e)
        hashes.foreach(bf.putLong)
        write(s, root, Index(n, e, bf))
    }
  }

  def mergeIncrement(s: SparkSession, root: String, freshKeys: DataFrame,
      keyCol: String, current: Option[Index]): Unit = {
    val keys = freshKeys.select(col(keyCol).as("digest"))
    // ONE job for the common path: collect up to the bound + 1 hashes
    // (8 bytes each); an overflow row routes to the distributed fold
    val hashes = keys.select(xxhash64(col("digest")).as("h"))
      .limit((DriverPutMax + 1).toInt)
      .collect().map(_.getLong(0)) // BOUNDED by DriverPutMax + 1
    if (hashes.length <= DriverPutMax) {
      mergeHashes(s, root, hashes, current)
    } else {
      val merged = current match { // bulk landing: the distributed fold, once
        case Some(cur) =>
          val inc = live(Dedup.digestIndexOf(keys, cur.expectedItems, SidecarFpp))
          Index(cur.nLanded + inc.nLanded, cur.expectedItems,
            if (cur.bloom == null) inc.bloom
            else if (inc.bloom == null) cur.bloom
            else cur.bloom.mergeInPlace(inc.bloom))
        case None => live(Dedup.digestIndexOf(keys, sized(keys.count()), SidecarFpp))
      }
      write(s, root, merged)
    }
  }

  /** Batch rows whose `keyCol` is NOT in the landed ledger: bloom
    * misses pass with zero landed bytes read; bloom hits are exactly
    * verified — the ledger's key column streamed ONCE past a broadcast
    * of the (candidate-sized) hit set, never hash-shuffled — and
    * unconfirmed FPs pass too. `landedKeys` must be the authoritative
    * ledger (same keyCol); it is BY-NAME so a no-hit batch never even
    * constructs the frame (eager construction costs a per-batch file
    * listing + schema inference over the ledger dir). A batch with no
    * bloom hits skips the landed read entirely — the steady all-fresh
    * state is flat in the corpus size.
    *
    * The returned frame is ALWAYS pinned (localCheckpoint'ed): in the
    * common no-hit path the flagged pin itself is returned, and the
    * hit path pins its (batch-sized) union — so callers must not
    * re-checkpoint the result (round-15: the old shape materialized
    * the batch TWICE per micro-batch, once here and once in the
    * caller's own pin — pure fixed-cost stack). */
  def filterFresh(batch: DataFrame, keyCol: String,
      index: Index, landedKeys: => DataFrame): DataFrame = {
    if (index.bloom == null) return batch.localCheckpoint(true)
    val pinned = batch.localCheckpoint(true)
    // DRIVER-side bloom probe for bounded batches (round-15, the 1000×
    // rung): the bloom grows with the LEDGER (~6 MB/M keys at 1e-5 —
    // a 5M-doc corpus carries ~30-50 MB), and shipping it as a plan
    // literal re-serializes it into a task binary EVERY batch, a
    // per-batch cost proportional to corpus size — the exact shape the
    // sidecar exists to kill. The bloom is already in driver memory
    // (the read memo), and a micro-batch is small, so collect the
    // batch's ≤DriverPutMax key hashes off the pin (8 bytes each) and
    // probe the live bloom: zero bloom bytes ship or deserialize, and
    // the common all-fresh batch decides with ONE bounded collect. Hit
    // rows (true re-arrivals + ~1e-5 FPs) verify exactly against the
    // ledger as before, keyed through an InSet flag (hash-set per row, never an
    // In-expression tree). Batches past the bound — the bulk
    // bootstrap, where the whole corpus arrives as one "batch" — take
    // the one-literal-ship distributed flag, once.
    val hashes = pinned.select(xxhash64(col(keyCol)).as("h"))
      .limit((DriverPutMax + 1).toInt)
      .collect().map(_.getLong(0)) // BOUNDED by DriverPutMax + 1
    if (hashes.length <= DriverPutMax) {
      val hitHashes = hashes.filter(index.bloom.mightContainLong)
      if (hitHashes.isEmpty) pinned // no candidates: the ledger is never opened
      else {
        val hitCol = xxhash64(col(keyCol)).isInCollection(hitHashes.toSeq)
        val hits = pinned.filter(hitCol)
        val confirmed = landedKeys.select(col(keyCol))
          .join(broadcast(hits.select(col(keyCol)).distinct()),
            Seq(keyCol), "left_semi")
          .distinct() // candidate-bounded
        pinned.filter(!hitCol)
          .unionByName(hits.join(broadcast(confirmed), Seq(keyCol), "left_anti"))
          .localCheckpoint(true) // batch-sized
      }
    } else {
      import org.apache.spark.sql.GraftShims.{toCol, toExpr}
      import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
      val might: Column = toCol(BloomFilterMightContain(
        toExpr(lit(serialize(index.bloom))), toExpr(xxhash64(col(keyCol)))))
      // ONE literal ship: the flag materializes once; every downstream
      // consumer filters the stored flag
      val flagged = pinned.withColumn("__might", might).localCheckpoint(true)
      val hits = flagged.filter(col("__might"))
      val out =
        if (hits.isEmpty) flagged
        else {
          val confirmed = landedKeys.select(col(keyCol))
            .join(broadcast(hits.select(col(keyCol)).distinct()),
              Seq(keyCol), "left_semi")
            .distinct()
          flagged.filter(!col("__might"))
            .unionByName(hits.join(broadcast(confirmed), Seq(keyCol), "left_anti"))
            .localCheckpoint(true)
        }
      out.drop("__might")
    }
  }
}
