package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables._

/** Deduplication operators for a training-data pipeline over `documents`.
  *
  * Four tiers, cheapest first — the standard corpus-dedup ladder:
  *  1. exact: hash-groupBy on a content digest (one shuffle on the hash)
  *  2. n-gram Jaccard: inverted-index join on shared shingles — candidate
  *     pairs only, never all-pairs
  *  3. MinHash/LSH: constant-size signatures + band-bucket join — the
  *     100 TB path where even the shingle inverted index is too big
  *  4. SimHash: 60-bit signature, hamming-distance banding
  *
  * Everything is pure column expressions (higher-order array functions,
  * md5-derived hashing) so signatures compute in the scan stage.
  * Hash parity with the DuckDB oracle: md5 hex → first 15 nibbles →
  * 60-bit non-negative bigint on both engines.
  */
object Dedup {

  /** 60-bit integer from the first 15 hex chars of md5 — deterministic,
    * engine-portable (DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  import CacheOps.{materializeAndRelease, shared}

  /** Distinct word 3-gram shingles per document (single Catalyst
    * expression — see TextShingles for why not higher-order functions). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextShingles(text, n)

  /** D1: exact dedup via content digest — groupBy(md5) keeping the
    * minimum id (deterministic survivor, unlike dropDuplicates). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .withColumn("digest", md5(col("text")))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("n_copies"))
  }

  /** ST8 gate form: exact dedup AT INGEST — d1's digest dedup run as a
    * stream ([[graft.streaming.DedupStream.exactDedupIngest]]), the
    * survivor table built by micro-batched dedup-appends instead of a
    * corpus pass. The corpus arrives as two RANGE-SPLIT files (low
    * doc_ids first — explicit file mtimes pin the source's oldest-first
    * order), so arrival-order first-wins equals the batch tier's
    * min-doc_id winner and the oracle is the plain GROUP BY digest →
    * MIN(doc_id) over the corpus: hash equality proves the streamed
    * survivor table ≡ the batch dedup, regardless of micro-batching.
    * The survivor table IS the replay ledger (see DedupStream's
    * scaladoc) — DedupStreamSpec asserts redelivery and kill-mid-append
    * publish nothing / complete without duplicating. */
  def streamedExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val p = Landing.scratch(spark, dir, "graft_dedup_st", "documents.parquet") { p =>
      val incoming = landSplitArrivals(spark, documents(spark, dir), p)
      val q = graft.streaming.DedupStream.exactDedupIngest(
        spark, incoming, p, s"${p}_checkpoint")
      try q.processAllAvailable() finally q.stop()
    }
    readOrEmpty(spark, p, "doc_id BIGINT, text STRING, lang STRING, source STRING, digest STRING")
      .select(col("doc_id"), col("digest"))
      .orderBy(col("doc_id"))
  }

  /** Read a stream-landed artifact dir, or the empty relation with the
    * given schema when the stream never published (publish-nothing on
    * an empty corpus — the zero-row case EmptyInputSpec pins — or a
    * killed first batch that left only the `_ledger_index` sidecar). */
  private[graft] def readOrEmpty(spark: SparkSession, path: String,
      ddl: String): DataFrame =
    if (Tables.hasParquetData(spark, path)) Tables.parquet(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Arrange a two-file arrival fixture under `${p}_incoming`: `docs`
    * range-split at the id midpoint, one file per half, file mtimes
    * pinned a minute apart so the file source's oldest-first order
    * equals doc_id order (two sub-second writes into one dir could
    * otherwise tie and flip batch order). Clears a previous landing's
    * output and checkpoint first (a regenerated fixture must not
    * resume the old stream's progress). Shared by the st8/st9 gate
    * wrappers. */
  private[graft] def landSplitArrivals(spark: SparkSession, docs: DataFrame,
      p: String): String = {
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${p}_checkpoint"), true)
    val Array(lo, hi) = docs.agg(min(col("doc_id")), max(col("doc_id")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = lo + (hi - lo) / 2
    val incoming = s"${p}_incoming"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(incoming))
    val base = System.currentTimeMillis() - 120000L
    def landFile(half: DataFrame, tmp: String, name: String, mtime: Long): Unit = {
      half.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(incoming, name)
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      target.setLastModified(mtime)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      ()
    }
    landFile(docs.filter(col("doc_id") <= mid), s"${p}_tmp0", "batch-0.parquet", base)
    landFile(docs.filter(col("doc_id") > mid), s"${p}_tmp1", "batch-1.parquet", base + 60000L)
    incoming
  }

  /** ST9 gate form: NEAR-dup discovery at ingest — d3's MinHash-LSH
    * tier run as a stream ([[graft.streaming.NearDupStream
    * .minhashIngest]]): per micro-batch, signatures for the arriving
    * docs only, band-bucket collisions against the landed index, exact
    * verify, three ledgered appends (pairs / buckets / docs). Unlike
    * st8, the RESULT here is arrival-order-INVARIANT — a pair is
    * discovered when its later member arrives, whatever the order —
    * so the accumulated pair table equals [[minhashLshPairs]] as a set
    * at any micro-batching, and the oracle is d3's SQL verbatim. */
  def streamedNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val p = Landing.scratch(spark, dir, "graft_neardup_st", "documents.parquet") { p =>
      val incoming = landSplitArrivals(spark, documents(spark, dir), p)
      val q = graft.streaming.NearDupStream.minhashIngest(
        spark, incoming, p, s"${p}_checkpoint")
      try q.processAllAvailable() finally q.stop()
    }
    // a corpus with no qualifying pairs never writes the pairs artifact
    // (publish-nothing discipline) — read as the empty relation then
    readOrEmpty(spark, s"$p/pairs", "a_id BIGINT, b_id BIGINT, jaccard DOUBLE")
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** D2: n-gram Jaccard near-dup pairs via inverted-index self-join.
    *
    * doc→shingle posting list, self-join on shingle (candidate pairs
    * share ≥1 shingle), count common, Jaccard = common/(|A|+|B|-common),
    * keep pairs ≥ 0.8. Jaccard divides two ints derived identically on
    * both engines → bit-identical doubles.
    *
    * Scale: the join fanout is bounded by shingle doc-frequency, so
    * corpus-hot shingles (boilerplate, shared vocabulary) are removed
    * from the similarity space by a doc-frequency cap BEFORE the
    * self-join — the quadratic-fanout guard the winnowing tier already
    * had. Jaccard is computed over the capped gram space (counts and
    * intersections both) — standard boilerplate removal, identical on
    * both engines; whenever no gram exceeds the cap (true of the
    * fixtures at every SF) the result equals plain jaccard, asserted
    * against an uncapped reference join in DedupSpec. The cap itself is
    * corpus-DERIVED ([[dfCapFor]]): a 1% doc-frequency fraction with
    * a small-corpus floor, landed from |docs| as one bounded driver
    * scalar — at fixture sizes it equals the old constant 50 (asserted
    * in DedupSpec), at 100 TB it grows with the corpus so eviction
    * stays a constant fraction of the gram space.
    *
    * Deliberately SINGLE-phase (join → groupBy n_common → broadcast
    * count join → jaccard filter), unlike the banded tiers: at a 0.8
    * threshold nearly every pair sharing one gram is a "candidate"
    * (measured 1.1M candidates → ~500 survivors at sf0.1), so a
    * generate-then-verify split re-explodes millions of pairs against
    * the posting list and costs ~3× the direct aggregation.
    */

  /** Corpus-derived doc-frequency cap: max(Floor, min(ceil(|docs| /
    * PerDocs), Ceil)). A CONSTANT cap on a growing corpus silently
    * evicts a growing fraction of the gram space (shifting near-dup
    * recall); deriving it from |docs| keeps "hot" meaning the same
    * corpus fraction (1%) at mid scales, with the floor preserving
    * small-corpus behavior. The ABSOLUTE ceiling is the round-10
    * finding: the pair join expands each surviving posting group
    * quadratically (df² pairs), so an unbounded corpus-proportional
    * cap admits (N/100)²-pair groups as N grows — the 10× scale probe
    * (10 disjoint same-shape sub-corpora, each with its own
    * mid-frequency vocabulary: the multi-source growth regime) ran
    * >15 min in exactly that self-join before this ceiling, because
    * per-source df stays constant while a proportional-only cap
    * rises past it. A posting list's pair-IDENTIFYING value does not
    * grow with corpus size — a substring shared by hundreds of docs
    * names no particular pair — so beyond Ceil the group is evicted
    * regardless of N, bounding every group's fanout at Ceil²/2 and
    * the join's total cost at |surviving fingerprints|·Ceil²/2.
    * Integer arithmetic on purpose: ceil via (n + PerDocs-1) div
    * PerDocs is bit-identical across engines, where double rounding
    * would not be. Shared by the n-gram (d2/c1), winnowing (d6), and
    * decontamination (c3) tiers and interpolated into their oracles
    * via [[dfCapSql]]; at every fixture SF the floor dominates
    * (N ≤ 5000 ⇒ cap = 50), so the ceiling changes no gate answer
    * (asserted in DedupSpec). */
  val DfCapFloor = 50L
  val DfCapPerDocs = 100L
  val DfCapCeil = 100L

  /** Corpus-size → cap (the shared arithmetic; specs, orchestration). */
  def derivedDfCap(nDocs: Long): Long =
    math.max(DfCapFloor,
      math.min((nDocs + DfCapPerDocs - 1) / DfCapPerDocs, DfCapCeil))

  /** The cap for a concrete corpus: ONE bounded driver-side count —
    * parquet metadata for a table scan, a cached frame otherwise — and
    * the cap enters the plan as a LITERAL the hot-gram filter pipelines
    * over. Round 6 derived the same number in-plan (an extra aggregate
    * + broadcast-exchange barrier per consumer, crossJoined into the
    * filter); measured on calm re-runs that billed d2/d6/c3 an extra
    * 0.5-0.9 s each while the collected value is a single integer — the
    * same bounded-scalar class as I3's frontier probes. At 100 TB a
    * production pipeline reads |docs| from table metadata anyway. */
  private[graft] def dfCapFor(corpus: DataFrame): Long =
    derivedDfCap(corpus.count())

  /** The cap when the corpus IS an on-disk table: |docs| comes from
    * parquet footer metadata on the driver ([[graft.Tables
    * .parquetRowCount]]) — no Spark job at all. The count() flavor
    * above still exists for derived frames (Curation's survivor sets),
    * whose cardinality no metadata records; DedupSpec asserts the two
    * derivations agree on the fixture table. */
  def dfCapForTable(spark: SparkSession, dir: String, name: String = "documents"): Long =
    derivedDfCap(graft.Tables.parquetRowCount(spark, dir, name))

  /** Oracle-SQL twin of [[dfCapFor]]: a scalar subquery over the SAME
    * corpus relation, same integer arithmetic. */
  def dfCapSql(corpusRel: String): String =
    s"(SELECT greatest($DfCapFloor, least((COUNT(*) + ${DfCapPerDocs - 1}) // $DfCapPerDocs, $DfCapCeil)) FROM $corpusRel)"

  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    corpusPairsOf(spark, dir, threshold).orderBy(col("a_id"), col("b_id"))

  /** D2's pair frame over the raw corpus table, landed and UNSORTED:
    * only d2's written output needs the (a_id, b_id) order, so the
    * internal consumers ([[qualifyingPairsLanded]]) skip the sort. */
  private def corpusPairsOf(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    ngramJaccardPairsOf(documents(spark, dir), threshold,
      capOverride = Some(dfCapForTable(spark, dir)))

  /** D2 over an arbitrary (doc_id, text) frame — the df cap is computed
    * over THIS corpus, so a curated subset prunes by its own gram
    * frequencies (Curation runs it over exact-dedup survivors). Callers
    * whose corpus is a raw table pass the metadata-derived cap instead
    * ([[dfCapForTable]]) and skip the count() job. The landed frame is
    * in no particular row order; every caller here uses it as a set. */
  private[graft] def ngramJaccardPairsOf(input: DataFrame, threshold: Double = 0.8,
      capOverride: Option[Long] = None): DataFrame =
    ngramJaccardPairsPlan(input, threshold, capOverride.getOrElse(dfCapFor(input)))
      .localCheckpoint(true)

  /** The pair frame as one unlanded plan; [[ngramJaccardPairsOf]] lands
    * it, PlanSpec checks its executed stages. */
  private[graft] def ngramJaccardPairsPlan(input: DataFrame, threshold: Double,
      cap: Long): DataFrame = {
    // One plan, landed by the one localCheckpoint above: shingling
    // runs once, into ONE grouped exchange ([[postingLists]]: each
    // gram's doc ids, hot grams cut by list size), and both the pair
    // rows and the per-doc gram counts read that exchange (reused, not
    // re-run). Measured against the old shape, which persisted the
    // posting list and the capped list (`shared`, two eager counts) and
    // cut hot grams with a broadcast anti-join: perfbench batch (10
    // pairs) cache_peak_mb 0.42 → 0.22 MB, g1's warm-up jobs 17 → 10
    // and its scaled CPU 0.79 → 0.60 s; sf0.1 d2 executor CPU
    // 1.54 → 1.18 s at a level wall (1.68 → 1.74 s medians); ScaleProbe
    // d2 at 30× 16.7-18.5 → 12.7-12.9 s (SCALE.md §4).
    // A count(*) over (partition by gram_h) cut lost at sf0.1 (wall
    // 1.12 → 1.79 s, CPU 1.25 → 2.08 s: three sorts of the uncapped
    // posting list), and dropping the persists without a new cut
    // re-shingles the corpus once per branch.
    // Join on a 60-bit gram hash, not the gram string: same pairs and
    // counts (collision odds ~n²/2⁶¹), half the shuffle bytes.
    // repartition BEFORE shingling: the fixture parquet is one split,
    // so without the early exchange the whole shingle+hash computation
    // runs on a single task (measured 4 s single-task vs <1 s spread).
    // The Jaccard denominators are CARRIED into the pair rows (the
    // ≤|docs|-row counts frame broadcasts onto each side) so the pair
    // aggregate emits complete rows and the two post-agg |pairs|-row
    // count joins disappear. n_grams is constant per doc — max() picks
    // it deterministically.
    val lists = postingLists(input
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
      .select(col("doc_id"), md5Long(col("gram")).as("gram_h")), "gram_h", "doc_id", cap)
    // broadcast is honest at 100 TB here: counts is ≤|docs| rows of two
    // BIGINTs, and the per-side join key is the doc id — AQE would pick
    // it anyway at fixture scale; at cluster scale a |docs|-sized build
    // side that outgrows broadcast falls back to the post-agg join form
    val counts = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // every pair inside a gram's list, as the self-join on gram_h
    // produced them: |list|² rows at most cap² per gram
    lists.select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .join(broadcast(counts.select(col("doc_id").as("a_id"),
        col("n_grams").as("a_n"))), Seq("a_id"))
      .join(broadcast(counts.select(col("doc_id").as("b_id"),
        col("n_grams").as("b_n"))), Seq("b_id"))
      // LENGTH FILTER (the ppjoin-family size prefilter, sound by
      // J = c/(a+b−c) ≤ min/max): a pair can only reach the threshold
      // when the smaller gram set is ≥ t of the larger, so
      // incompatible-length candidates drop BEFORE the pair aggregate
      // — the carried counts make it a pipelined map-side cut on the
      // join output, shrinking the aggregate's input (the 4-core
      // bottleneck) without touching any answer. Candidates sharing a
      // gram across very different doc lengths are the common case in
      // a mixed corpus, so the cut is large exactly when the join is
      // expensive.
      .filter(greatest(col("a_n"), col("b_n")) * lit(threshold) <=
        least(col("a_n"), col("b_n")))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a_n")).as("a_n"), max(col("b_n")).as("b_n"))
      .withColumn("jaccard",
        col("n_common") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"))
      // lands in AQE-sized partitions, unsorted: the pair aggregate
      // keeps the corpus' doc_id hash partitioning (a shuffle-partitions
      // count of slivers), which every downstream scan of the landing
      // paid per task; rebalance coalesces them (one at the fixture)
      // without the range sort's sampling job and sort
      .hint("rebalance")
  }

  /** The df cap as one grouped exchange: per `key` of `postings`, the
    * list of its `id`s (column `ids`), kept when the key occurs in at
    * most `cap` rows. Exploding `ids` gives back exactly the rows the
    * old form kept (a `groupBy` of hot keys broadcast into a
    * `left_anti`, which read the postings twice and needed them
    * persisted in between); DedupSpec checks the two agree. Callers
    * take several outputs from one lists frame, which share its
    * exchange. */
  private[graft] def postingLists(postings: DataFrame, key: String, id: String,
      cap: Long): DataFrame =
    postings.groupBy(col(key)).agg(collect_list(col(id)).as("ids"))
      .filter(size(col("ids")) <= cap)

  /** D2b — the SAME pairs via AllPairs/PPJoin prefix-filtered candidate
    * generation (Bayardo et al., WWW'07 "Scaling Up All Pairs
    * Similarity Search"; Xiao et al., WWW'08 PPJoin): the 100 TB twin
    * of [[ngramJaccardPairs]], hash-equal by the shared oracle.
    *
    * Shape: per-doc SORTED rare-gram arrays (any global total order
    * works for correctness — the gram hash itself here, no df join);
    * only the first p = n − ⌊t·n⌋ + 1 grams of each doc are exploded
    * into the candidate self-join. Sound because J ≥ t forces overlap
    * c ≥ ⌈t·a⌉ and ⌈t·b⌉, so the smallest common gram has at most
    * a − c + 1 ≤ a − ⌈t·a⌉ + 1 predecessors on each side — every
    * qualifying pair collides inside both prefixes. floor (not ceil)
    * lengthens p by ≤1: immune to t·n double-rounding UP past the true
    * integer, which would shorten the prefix and miss pairs. Verify is
    * exact — shingles are DISTINCT per doc (TextShingles), so
    * n_common = |array_intersect| of the two sorted arrays, computed
    * on the raw candidate stream (no pre-distinct barrier; the
    * qualifying output is tiny, dropDuplicates lands there).
    *
    * Why d2 keeps the full posting join at fixture scale: the round-12
    * interleaved 4-shape probe (PLANS.md) measured the posting join
    * min 1.44 s vs this shape's 1.73 s at sf0.1/local[4] — at 5k docs
    * the extra byDoc aggregate + verify joins cost more than the
    * candidate cut saves. The asymptotics invert at scale: with the df
    * cap the posting join's aggregate input is Θ(|grams|·cap²) rows,
    * while the prefix cut admits only ~(p/n)² ≈ 5% of each posting
    * list's pairs (t = 0.8) — a ~20× cut in the volume that dominates
    * once the pair stream outgrows the fixed barrier cost; the shuffle
    * itself shrinks from |postings| rows to ~0.22·|postings|. At
    * cluster scale the verify joins shuffle on doc_id with the
    * candidate side orders of magnitude smaller than the corpus.
    * Reference: dedupe_donors.py pairwise-score loop (same qualifying
    * semantics; the reference scores all blocked pairs). */
  def prefixJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    prefixJaccardPairsOf(documents(spark, dir), threshold,
      capOverride = Some(dfCapForTable(spark, dir)))

  private[graft] def prefixJaccardPairsOf(input: DataFrame, threshold: Double = 0.8,
      capOverride: Option[Long] = None): DataFrame = {
    val cap = capOverride.getOrElse(dfCapFor(input))
    // persisted: a count(*) over (partition by gram_h) df cut in place
    // of the persist + broadcast anti-join measured slower at sf0.1
    // (wall 1.81 → 2.22 s medians, executor CPU level; CHANGES.md)
    val docs = shared(input
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
      .select(col("doc_id"), md5Long(col("gram")).as("gram_h")))
    val hot = docs.groupBy(col("gram_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("gram_h"))
    // one aggregate yields the verify arrays, the lengths, and the
    // prefixes; persisted because the prefix join reads it twice and
    // the verify twice more — but at ≤|docs| rows it is ~50× smaller
    // than the posting list.
    val byDoc = shared(docs.join(broadcast(hot), Seq("gram_h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("gram_h"))).as("grams"))
      .select(col("doc_id"), col("grams"), size(col("grams")).as("n"))
      .withColumn("prefix", slice(col("grams"), lit(1),
        (col("n") - floor(col("n") * lit(threshold)).cast("int") + lit(1)))))
    val pre = byDoc.select(col("doc_id"), col("n"),
      explode(col("prefix")).as("gram_h"))
    val cand = pre.select(col("doc_id").as("a_id"), col("n").as("a_n"),
        col("gram_h"))
      .join(pre.select(col("doc_id").as("b_id"), col("n").as("b_n"),
        col("gram_h")), Seq("gram_h"))
      .filter(col("a_id") < col("b_id"))
      // length filter, sound by J = c/(a+b−c) ≤ min/max — a pipelined
      // map-side cut on the prefix join's output.
      .filter(greatest(col("a_n"), col("b_n")) * lit(threshold) <=
        least(col("a_n"), col("b_n")))
      .select(col("a_id"), col("b_id"))
    // verify joins UNHINTED: at fixture scale the persisted byDoc's
    // in-memory stats select broadcast on their own; at cluster scale
    // byDoc is corpus-sized and the candidate stream is the small side
    // — a forced broadcast here would be the dishonest direction.
    val result = cand
      .join(byDoc.select(col("doc_id").as("a_id"),
        col("grams").as("a_g"), col("n").as("a_n")), Seq("a_id"))
      .join(byDoc.select(col("doc_id").as("b_id"),
        col("grams").as("b_g"), col("n").as("b_n")), Seq("b_id"))
      .withColumn("n_common",
        size(array_intersect(col("a_g"), col("b_g"))).cast("long"))
      .withColumn("jaccard",
        col("n_common") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_common"), col("jaccard"))
      .dropDuplicates("a_id", "b_id")
      .orderBy(col("a_id"), col("b_id"))
    materializeAndRelease(result, docs, byDoc)
  }

  /** D7: near-dup CLUSTERS via distributed connected components — the
    * step after pair generation every dedup pipeline needs (pairwise
    * similarity is not transitive, but the keep-one-per-group decision
    * is made per connected component; d2/d3 emit the edges, this folds
    * them into canonical cluster ids).
    *
    * Algorithm: min-label propagation. Every endpoint starts as its own
    * label; each round takes the min of its neighbors' labels; stop at
    * fixpoint. Rounds are bounded by the cluster diameter (O(log n)
    * with doubling variants; near-dup components are shallow — the
    * fixture converges in ≤3). Each round is one superstep of the graph
    * kernel PageRank and the k-core peel run (Graph.scala: a narrow
    * zip over the persisted CSR adjacency, one map-side-combined min
    * per destination partition); the driver loop carries ONLY the
    * changed-label count, returned by the one job that also lands the
    * round's labels, so lineage stays one round deep. At 100 TB this
    * is the simplified form of the published large-star/small-star
    * map-reduce CC (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14); the round shape (route by edge key,
    * min-combine) is the same.
    *
    * Oracle: DuckDB recursive CTE computes the transitive closure of
    * the same d2 edge set and takes min(reachable ∪ self) per doc —
    * independent formulation, same fixpoint. Output: (doc_id,
    * cluster_id) for every doc in ≥1 pair, plus the component size.
    */

  // d7 and d7b both consume d2's edge set, so it lands once per
  // session and feeds every clustering tier; d2 itself keeps computing
  // fresh, so its bench time stays the honest generation cost
  private[graft] def qualifyingPairsLanded(spark: SparkSession, dir: String): DataFrame =
    Landing.frame(spark, dir, "d7", "corpus pair frame") {
      corpusPairsOf(spark, dir).select(col("a_id"), col("b_id"))
    }

  def dedupClusters(spark: SparkSession, dir: String, maxIters: Int = 20): DataFrame =
    clusterRows(Graph.connectedComponents(qualifyingPairsLanded(spark, dir), maxIters))

  /** The d7 family's output tail over a (doc_id, label) labeling:
    * (doc_id, cluster_id, n_docs) ordered by doc_id. The size is a
    * count over the label partition, one exchange where a group-by
    * joined back to the labels took three AQE query stages. */
  private[graft] def clusterRows(labels: DataFrame): DataFrame =
    labels
      .select(col("doc_id"), col("label").as("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))).as("n_docs"))
      .orderBy(col("doc_id"))

  /** D7c: INCREMENTAL cluster maintenance — the CDC discipline applied
    * to the clustering tier (the g2b companion). When new documents
    * arrive with their near-dup edges, re-running connected components
    * over the whole graph is corpus-shaped; instead the landed
    * clustering is CONTRACTED to its labels (a quotient graph: one
    * node per existing cluster), the arriving edges are relabeled
    * through it, and CC runs over that Δ-sized quotient — whose label
    * composition is EXACT, not approximate: base labels are their
    * components' min ids, quotient propagation takes the min over
    * quotient-node ids, and min(mins ∪ new ids) is the global
    * component min, so the composed labeling equals a full re-run
    * row-for-row (shared d7 oracle, hash-equal; merge cases
    * spec-pinned). Clusters untouched by any arriving edge never
    * enter the quotient and keep their labels — zero work, the
    * change-locality every maintained artifact in this repo aims for.
    * The base labeling is the maintained artifact, landed once per
    * session (the ranks/g2b discipline) so the warm gate measures the
    * delta apply. */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qualifyingPairsLanded(spark, dir)
    dedupClustersIncrementalOf(pairs, d7cBase(spark, dir, pairs),
      Graph.g2bNewNode)
  }

  private def d7cBase(spark: SparkSession, dir: String, pairs: DataFrame): DataFrame =
    Landing.frame(spark, dir, "d7c", "base cluster state") {
      Graph.connectedComponents(pairs.filter(
        !Graph.g2bNewNode(col("a_id")) && !Graph.g2bNewNode(col("b_id"))))
    }

  /** The edge-count crossover above which the quotient apply (d7c) is
    * routed over the full CC re-run (d7). Unlike g2d's ratio this
    * rule is SCALE-BOUND, because the round-12 probe showed the
    * fixture regime is overhead-dominated on BOTH sides (d7 ~1.0 s,
    * d7c ~1.8 s, both flat 1-30×): d7's per-round exchanges carry the
    * WHOLE edge frame (diameter × |E| shuffle rows per release) while
    * d7c's quotient carries only the release's edges plus ~0.9 s of
    * fixed stage overhead — so the crossover sits where |E|-shaped
    * per-round exchange cost exceeds that fixed overhead. At the
    * probe's measured ~1 µs/exchanged-edge-row × 8 rounds, 0.9 s ≈
    * 10⁵-10⁶ edges. The spec pins both routes by overriding the
    * constant (a fixture crossing 1M edges is not probe-able in a unit
    * test). Measured on the graph kernel (SCALE.md §5): d7 wins at
    * 328k edges (1.10-1.14 s vs 1.53-1.77 s), d7c at 1.00M (1.95-2.08 s
    * vs 2.42-2.44 s) and 3.25M, so every graph of 1M edges or more
    * routes to the quotient apply. */
  private[graft] val D7cCrossoverEdges = 1000000L

  /** D7d: the DISPATCHED maintenance verb for the clustering artifact
    * (round-12 verdict task #1's third family). Inputs: |E| and |Δ|,
    * read from the landed pair frame in one aggregate; route
    * to the quotient apply when the corpus is past the exchange
    * crossover AND the delta is a minority of the frame (a delta
    * comparable to the corpus makes the quotient ≈ the full graph, so
    * the full CC's simpler plan wins). Output ≡ d7 either way. */
  def dedupClustersMaintain(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qualifyingPairsLanded(spark, dir)
    dedupClustersMaintainOf(pairs, d7cBase(spark, dir, pairs), Graph.g2bNewNode)._1
  }

  /** The routed apply; returns (result, chosen twin) for the spec.
    * `base` is by-name — the d7 route never lands the quotient state.
    * `crossover` is overridable so the spec can pin both routes. */
  private[graft] def dedupClustersMaintainOf(pairs: DataFrame,
      base: => DataFrame, isNew: Column => Column,
      crossover: Long = D7cCrossoverEdges): (DataFrame, String) = {
    val r = pairs.agg(count(lit(1)),
      count(when(isNew(col("a_id")) || isNew(col("b_id")), 1))).head()
    val (total, deltaN) = (r.getLong(0), r.getLong(1))
    if (total >= crossover && deltaN * 2 <= total)
      (dedupClustersIncrementalOf(pairs, base, isNew), "d7c")
    else (clusterRows(Graph.connectedComponents(pairs)), "d7")
  }

  private[graft] def dedupClustersIncrementalOf(pairs: DataFrame,
      baseLabels: DataFrame, isNew: Column => Column): DataFrame = {
    val delta = shared(pairs
      .filter(isNew(col("a_id")) || isNew(col("b_id")))
      .select(col("a_id"), col("b_id")))
    // contract: map each delta endpoint through the base labeling;
    // nodes the base never saw (arrivals, or old nodes whose first
    // edge is a delta edge) stand for themselves
    val mapped = delta
      .join(baseLabels.select(col("doc_id").as("a_id"), col("label").as("la")),
        Seq("a_id"), "left")
      .join(baseLabels.select(col("doc_id").as("b_id"), col("label").as("lb")),
        Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val qmap = Graph.connectedComponents(mapped)
      .select(col("doc_id").as("qnode"), col("label").as("qlabel"))
    // compose: docs keep their base label unless their cluster entered
    // the quotient; delta-only nodes take their own quotient label
    val fromBase = baseLabels
      .join(qmap.select(col("qnode").as("label"), col("qlabel")), Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("qlabel"), col("label")).as("label"))
    // delta-only nodes (arrivals, or old nodes whose first edge is a
    // delta edge) are EXACTLY qmap's non-base qnodes: a mapped edge
    // drops as a self-loop only when both endpoints carried base
    // labels, and a base label (a base member's doc_id) can never
    // equal a delta-only id — so every delta-only node reaches the
    // quotient and one anti-join derives them, no fallback label
    // needed (review finding: the old two-scan + distinct + left-join
    // form recomputed this set with a dead coalesce)
    val fromDelta = qmap
      .join(baseLabels.select(col("doc_id").as("qnode")), Seq("qnode"), "left_anti")
      .select(col("qnode").as("doc_id"), col("qlabel").as("label"))
    materializeAndRelease(clusterRows(fromBase.unionByName(fromDelta)), delta)
  }

  val MinHashK = 16 // hash functions
  val LshBands = 4  // bands of rows = K/bands

  /** Parametric minhash family h_i(g) = (A_i·base(g) + B_i) mod P over a
    * 28-bit md5-derived base hash. One md5 per gram instead of K — the
    * multiply-mod is free next to a digest. 28-bit base keeps A_i·base
    * < 2^59 (no ANSI overflow); P = 2^31-1. Constants are deterministic
    * functions of the seed index and are interpolated into the oracle
    * SQL so both engines share them. */
  val MinHashP = 2147483647L
  def seedA(i: Int): Long = 1L + (i.toLong * 2654435761L % (MinHashP - 1))
  def seedB(i: Int): Long = i.toLong * 40503L % MinHashP

  /** 28-bit base hash: first 7 md5 hex nibbles. Base-hash collisions
    * (~n²/2^29) only perturb the minhash estimate; candidate pairs are
    * re-verified with exact Jaccard regardless. */
  def md5Base28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("bigint")

  /** D3: MinHash + LSH near-dup candidates, verified with exact Jaccard.
    *
    * Pipeline:
    *  1. one-pass K-way signature per document in the SCAN stage
    *     (functions.MinHashSig — same per-gram arithmetic as the oracle's
    *     exploded SQL, ~K× fewer rows than the gram×seed explode this
    *     replaces, and map-only where the explode needed two wide
    *     aggregations). Null signatures (docs shorter than the shingle
    *     width) are dropped — an all-sentinel signature would bucket
    *     every tiny doc together, a quadratic self-join bomb at scale.
    *  2. band buckets = md5 of each signature slice in seed order
    *     (byte-identical to the oracle's per-band min-list hash)
    *  3. self-join band buckets → candidate pairs
    *  4. verify candidates with exact Jaccard over a posting list built
    *     from CANDIDATE DOCS ONLY (semi-join before the shingle explode,
    *     the d6 pattern) — verification cost ∝ candidates, not corpus.
    *
    * The nested higher-order-function formulation is 20× slower
    * (interpreted lambdas, measured 123 s vs ~6 s at sf0.1); the
    * exploded scalar formulation this replaces measured ~2.5-4 s, mostly
    * in the G×K row blowup and its two aggregations.
    *
    * At 100 TB: signatures are map-side; the only wide exchanges are the
    * band self-join on constant-size keys and the candidate-restricted
    * verify.
    */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val buckets = shared(lshBandRows(spark, dir))

    val candidates = saltedBandSelfJoin(buckets, HotBandThreshold, HotBandSalts)
      .localCheckpoint(true)

    // verify only candidate docs: semi-join BEFORE the shingle explode
    // (the d6 pattern) — the signature phase no longer materializes a
    // full-corpus posting list, and verification must not either
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id"))).distinct()
    val verGrams = documents(spark, dir)
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
      .select(col("doc_id"), md5Long(col("gram")).as("gram_h"))
    materializeAndRelease(verifyCandidates(candidates, verGrams, threshold), buckets)
  }

  /** The (doc_id, band, bucket) projection minhashLshPairs caches —
    * UNCACHED, so the plan is dumpable (ExplainDump's
    * `d3_minhash_lsh__internal` hook). Null signatures (docs shorter
    * than the shingle width) emit an EMPTY band array instead of being
    * filtered (round 17, guide §4.4 class): a `.filter(sig IS NOT
    * NULL)` above the projection gets alias-substituted by predicate
    * pushdown, re-evaluating MinHashSig in the filter — 2× the
    * signature pass per doc (the j7 lesson; the old shape contained it
    * behind an EXTRA persisted sig layer, one more corpus-sized cache
    * fill + count job). `posexplode([])` emits no rows, so the output
    * is row-identical; with no Filter to push there is no duplication,
    * so ONE cached frame (the band rows) suffices and the signature
    * runs exactly once per doc at fill. */
  private[graft] def lshBandRows(spark: SparkSession, dir: String): DataFrame = {
    val rows = MinHashK / LshBands
    val seedsA = (0 until MinHashK).map(seedA)
    val seedsB = (0 until MinHashK).map(seedB)
    val bandBucket = (0 until LshBands).map { b =>
      md5(concat_ws(",",
        (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))
    }
    documents(spark, dir)
      .repartition(col("doc_id")) // BEFORE hashing — see ngramJaccardPairs
      .select(col("doc_id"),
        graft.functions.MinHashSig(shingles(col("text")), seedsA, seedsB, MinHashP).as("sig"))
      .select(col("doc_id"),
        posexplode(when(col("sig").isNotNull, array(bandBucket: _*))
          .otherwise(lit(Array.empty[String]))).as(Seq("band", "bucket")))
  }

  /** Band-bucket rows above this size are HOT: their self-join leg is
    * salted. Normal LSH buckets hold a handful of near-dups; a bucket
    * this deep means a pathological band (near-constant docs all
    * hashing to one (band, bucket)), where the one shuffle task
    * holding the key would enumerate h²/2 pairs alone. */
  private[graft] val HotBandThreshold = 4096L
  private[graft] val HotBandSalts = 8

  /** The LSH band self-join with HOT buckets salted (the j6b
    * scatter/replicate transform applied selectively — round-13
    * verdict task #6): keys above `hotThreshold` split off, their
    * a-side scattered over `salts` sub-keys by doc_id hash and their
    * b-side replicated ×salts, so each pair still meets EXACTLY once
    * while the hot key's pair enumeration spreads across `salts`
    * tasks; cold keys join plain. Hotness is a property of the KEY,
    * so hot×cold pairs cannot exist and the union is complete. Output
    * ≡ the unsalted join (d3's oracle unchanged — the transform is
    * semantics-preserving; the output VOLUME of a hot key is still
    * h²/2, which only the verify threshold bounds). The hot-key frame
    * is pathological-few by construction — both splits are broadcast
    * semi/anti probes, map-side. st9's fresh×landed collision join
    * needs no salt: its fresh side broadcasts (batch-sized), so the
    * landed side streams map-side and no shuffle task owns a key. */
  private[graft] def saltedBandSelfJoin(buckets: DataFrame,
      hotThreshold: Long, salts: Int): DataFrame = {
    val hotKeys = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > hotThreshold)
      .select(col("band"), col("bucket"))
      .localCheckpoint(true) // feeds two broadcast builds
    val cold = buckets.join(broadcast(hotKeys), Seq("band", "bucket"), "left_anti")
    val coldPairs = cold.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .join(cold.select(col("doc_id").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
    val hot = buckets.join(broadcast(hotKeys), Seq("band", "bucket"), "left_semi")
    val saltA = hot.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .withColumn("__salt", pmod(xxhash64(col("a_id")), lit(salts.toLong)))
    val saltRange = buckets.sparkSession.range(salts.toLong)
      .select(col("id").as("__salt"))
    val repB = hot.select(col("doc_id").as("b_id"), col("band"), col("bucket"))
      .crossJoin(saltRange)
    val hotPairs = saltA.join(repB, Seq("band", "bucket", "__salt"))
      .select(col("a_id"), col("band"), col("bucket"), col("b_id"))
    coldPairs.unionByName(hotPairs)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs through a HASHED
    * shingle posting list (doc_id, gram_h) — the shared second phase of
    * every candidate-generation tier (df-capped n-grams, MinHash bands,
    * winnowing fingerprints). Joining on the 60-bit hash instead of the
    * gram string keeps the shuffle narrow with identical counts on both
    * engines (the oracle hashes the same md5 prefix). */
  private[graft] def verifyCandidates(candidates: DataFrame, hashed: DataFrame,
      threshold: Double, alreadyPinned: Boolean = false): DataFrame = {
    // The candidate pair set is small (pairs sharing a rare gram / band /
    // fingerprint), so materialize it once — it feeds the id semi-join
    // and both verification joins — and restrict the posting list to
    // candidate docs BEFORE it shuffles: verification cost then scales
    // with |candidate docs|, not |corpus|. The id set broadcasts (ids
    // only); per-doc gram counts stay exact because the semi-join keeps
    // every gram of a kept doc. Stream callers pass alreadyPinned=true:
    // their candidate frame is checkpointed upstream, and re-pinning it
    // was one more per-batch job barrier for nothing (round-15).
    val cand = if (alreadyPinned) candidates else candidates.localCheckpoint(true)
    val ids = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val h = hashed.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val counts = h.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val common = cand
      .join(h.select(col("doc_id").as("a_id"), col("gram_h")), Seq("a_id"))
      .join(h.select(col("doc_id").as("b_id"), col("gram_h")), Seq("b_id", "gram_h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"))

    common
      .join(counts.select(col("doc_id").as("a_id"), col("n_grams").as("a_n")), Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n_grams").as("b_n")), Seq("b_id"))
      .withColumn("jaccard",
        col("n_common") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Near-dup radius for D4b — 3 differing signature bits, the
    * published operating point for 64-bit SimHash dedup (Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07). On this fixture the hamming histogram is bimodal: planted
    * near-dups sit at ≤3 while the shared-vocab background starts near
    * 6-8, so radius 3 separates them cleanly (measured: 20 pairs at ≤3
    * vs 781 at ≤8 over 500 docs — the larger radius is mostly corpus
    * background, not duplication). */
  val SimHashMaxHamming = 3

  /** D4b: SimHash near-dup pairs via multi-band hamming LSH.
    *
    * The signature's 60 bits split into maxHamming+1 disjoint bands
    * (radius 3 → 4 bands of 15 bits). A pair within the radius differs
    * in at most maxHamming bands, so it agrees EXACTLY on at least one
    * band (pigeonhole) — full recall by construction, not probabilistic.
    * Candidates = union of per-band exact bucket matches, verified with
    * bit_count(xor) ≤ radius and deduped across bands.
    *
    * Round 2 bucketed on the top 20 bits only: pairs whose differing
    * bits straddled the prefix were lost (measured 3% recall on the
    * fixture — 26 of 781 radius-8 pairs) AND the single wide bucket
    * collapsed on clustered signatures (55 s at sf0.1, the worst query
    * in the suite). 15-bit bands stay selective even on a shared-vocab
    * corpus — 276k candidates over 5000 docs, measured — and at 100 TB
    * the per-band join keys are uniform enough for AQE to split any
    * residual hot bucket. The oracle is the INDEPENDENT brute-force
    * all-pairs formulation, so the driver gate proves the banding loses
    * nothing rather than mirroring it. */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = SimHashMaxHamming): DataFrame = {
    val bands = maxHamming + 1
    val width = SimHashBits / bands
    val mask = (1L << width) - 1
    // persist: without materialization the simhash expression
    // re-evaluates inside every band branch (measured 140 s vs ~2 s).
    val sigs = shared(documents(spark, dir)
      .repartition(col("doc_id")) // BEFORE hashing — see ngramJaccardPairs
      .withColumn("simhash", simhash(col("text")))
      .select(col("doc_id"), col("simhash")))
    val bucketCols = (0 until bands).map(i =>
      shiftright(col("simhash"), i * width).bitwiseAND(lit(mask)))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(bucketCols: _*)).as(Seq("band", "bucket")))
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"),
      col("band"), col("bucket"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"),
      col("band"), col("bucket"))
    val result = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct() // a pair can match in several bands
      .orderBy(col("a_id"), col("b_id"))
    materializeAndRelease(result, sigs)
  }

  /** D6: winnowing near-dup pairs via the Rabin-Karp rolling-hash
    * fingerprint (see functions.RollingFingerprint) — sub-token
    * granularity, robust to word-boundary edits, guaranteed to flag any
    * shared substring ≥ w+k-1 chars. Same inverted-index join shape as
    * D2, but the posting list is the compact winnowed set instead of
    * every shingle. The polynomial hash and winnowing are mirrored
    * EXACTLY in the DuckDB oracle (HUGEINT Mersenne-61 arithmetic, a
    * position-inverted min key for rightmost ties), so the driver
    * hash-checks the whole tier; DedupSpec additionally asserts
    * agreement with the exact-Jaccard pairs. */
  val FingerprintMinShared = 5

  // production builds fingerprint a corpus once and every downstream
  // consumer reads the landed pair set; ScaleProbe measures
  // [[rollingFingerprintPairsFresh]], so its scaling evidence stays a
  // real recomputation, never a landing hit
  def rollingFingerprintPairs(spark: SparkSession, dir: String,
      minShared: Int = FingerprintMinShared, threshold: Double = 0.8): DataFrame =
    Landing.frame(spark, dir, "d6", "fingerprint pair frame",
        variant = s"$minShared:$threshold") {
      rollingFingerprintPairsFresh(spark, dir, minShared, threshold)
    }

  /** The un-memoized computation — the frame [[rollingFingerprintPairs]]
    * lands once per corpus per session. ScaleProbe probes THIS form. */
  private[graft] def rollingFingerprintPairsFresh(spark: SparkSession, dir: String,
      minShared: Int = FingerprintMinShared, threshold: Double = 0.8): DataFrame = {
    val raw = shared(documents(spark, dir)
      .repartition(col("doc_id")) // BEFORE fingerprinting — see ngramJaccardPairs
      .select(col("doc_id"),
        explode(graft.functions.RollingFingerprint(col("text"))).as("fp")))
    // doc-frequency cap (corpus-derived, see dfCapFor): fingerprints
    // shared corpus-wide (boilerplate / common-vocab substrings) only
    // fan out the candidate join without identifying near-dup PAIRS;
    // dropping them is standard winnowing practice. Final output is
    // unchanged — candidates are verified with exact Jaccard — as long
    // as true dups still share >= minShared rare fingerprints (they do:
    // near-identical docs share their long, pair-specific substrings).
    val hot = raw.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCapForTable(spark, dir)).select(col("fp"))
    // persist: the capped posting list feeds both self-join branches,
    // and an unpersisted frame re-executes the df-cap subtree (group,
    // broadcast, anti-join) once per branch — same pathology measured
    // on the minhash bucket join (21 s vs 1 s). d2's unpersisted forms
    // lost here at sf0.1: grouped posting lists 2.45 → 2.62 s wall
    // (CPU 2.67 → 2.36 s), a count(*) over (partition by fp) cut
    // 1.90 → 2.76 s (CHANGES.md).
    val fps = shared(raw.join(broadcast(hot), Seq("fp"), "left_anti"))
    // raw is dead once fps is materialized — release the largest cached
    // frame before the self-join/verify phase rather than holding it
    // through the whole function
    raw.unpersist(true)
    val a = fps.select(col("doc_id").as("a_id"), col("fp"))
    val b = fps.select(col("doc_id").as("b_id"), col("fp"))
    // Materialize the (small) candidate set eagerly: it feeds both the
    // id-set semi-join and the verification join, and re-deriving it
    // would re-run the posting-list self-join twice.
    val candidates = a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(true)
    // fingerprint matches are candidates; exact Jaccard confirms (same
    // two-phase shape as the MinHash tier). Verify ONLY the candidate
    // docs: semi-join `documents` to the candidate id set BEFORE the
    // shingle explode, so the verification posting list is proportional
    // to |candidate docs|, not |corpus| — re-exploding every document's
    // shingles here would rebuild exactly the structure winnowing exists
    // to avoid (round-2 finding: the full rebuild cost as much as the
    // plain n-gram tier).
    val candIds = candidates.select(col("a_id").as("doc_id"))
      .union(candidates.select(col("b_id").as("doc_id")))
      .distinct()
    val grams = shared(documents(spark, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .repartition(col("doc_id")) // BEFORE shingling — see ngramJaccardPairs
      .select(col("doc_id"), explode(shingles(col("text"))).as("gram"))
      .select(col("doc_id"), md5Long(col("gram")).as("gram_h"))) // feeds counts + both verification join sides
    materializeAndRelease(verifyCandidates(candidates, grams, threshold), fps, grams)
  }


  val SimHashBits = 60

  /** 60-bit SimHash over word tokens: bit j is set when the majority of
    * token hashes have bit j set. Single-expression implementation —
    * see functions.SimHash64 for why not nested higher-order functions
    * (interpreted, ~30× slower on real evaluation). */
  def simhash(text: Column): Column =
    graft.functions.SimHash64(text, SimHashBits)

  /** D4: per-document SimHash signatures, rolled up by source with the
    * distinct-signature count (the dedup-relevant statistic). Pair
    * generation at scale buckets on signature prefixes + verifies
    * hamming distance ≤ k via bit_count(xor) — exercised in the test
    * suite; the full pair join is O(n²) at small SF and adds no
    * operator coverage. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    documents(spark, dir)
      .repartition(col("doc_id")) // BEFORE hashing — see ngramJaccardPairs
      .withColumn("simhash", simhash(col("text")))
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))
  }

  /** D7b: near-dup clusters via LARGE-STAR / SMALL-STAR contraction —
    * the published O(log n)-round connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) that
    * [[Graph.connectedComponents]]'s own failure message names as the fix for
    * deep components. Plain min-label propagation needs DIAMETER
    * rounds: a chain of 10k near-identical docs (version histories,
    * crawl snapshots) is 10k joins; star contraction halves the
    * component structure every alternation instead of walking it.
    * Same output contract and THE SAME driver oracle as d7 — hash
    * equality proves the two algorithms reach the identical fixpoint
    * on the real edge set; the deep-chain case where they diverge in
    * feasibility is pinned in DedupSpec. */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    clusterRows(connectedComponentsStar(qualifyingPairsLanded(spark, dir)))

  /** Large-star/small-star CC over an undirected pair frame; returns
    * (doc_id, label), label = the component's min doc_id.
    *
    * Each round rewrites the EDGE SET (not labels):
    *  - large-star: per node u, attach every strictly-larger neighbor
    *    to m = min(N(u) ∪ u) — long tails fold onto local minima;
    *  - small-star: per node u over its ≤-neighbors, attach all of
    *    them (and u) to the minimum — stars flatten one level.
    * Both phases are groupBy-min + join + distinct — partial-agged
    * shuffles on edge frames that SHRINK as components contract, each
    * round localCheckpointed (d7's lineage discipline). At the
    * fixpoint every edge is (node, component-min), so the label read
    * is the edge list itself plus a self-label per root. Convergence
    * in O(log² n) alternations with high probability per the paper;
    * maxIters=30 covers graphs far beyond any corpus (2^30 docs) and
    * fails loudly like d7 if ever exceeded. */
  private[graft] def connectedComponentsStar(
      pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    // canonical undirected form: (hi, lo), hi > lo, distinct
    var edges = pairs
      .select(greatest(col("a_id"), col("b_id")).as("hi"),
        least(col("a_id"), col("b_id")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // large-star over the symmetric view: m(u) = min(N(u) ∪ u);
      // every neighbor v > u re-attaches to m
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mL = sym.groupBy(col("u"))
        .agg(min(col("v")).as("minv"))
        .select(col("u"), least(col("u"), col("minv")).as("m"))
      val afterLarge = sym.join(mL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star on the (hi, lo) orientation: per hi-node, its
      // ≤-neighborhood (all lo's) plus itself attach to the minimum
      val mS = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = afterLarge.join(mS, Seq("hi"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mS.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(true)
      // fixpoint = identical edge set; both set differences are
      // candidate-sized anti joins, and rounds are logarithmic
      changed = next.exceptAll(edges).count() + edges.exceptAll(next).count()
      edges.unpersist(false)
      edges = next
      iter += 1
    }
    require(changed == 0,
      s"star contraction did not converge in $maxIters rounds")
    // stars: every non-root points straight at its component min
    edges.select(col("hi").as("doc_id"), col("lo").as("label"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("label")))
      .distinct()
  }

  /** d8: INCREMENTAL exact dedup — classify an arriving batch against
    * an already-landed corpus without ever shuffling the corpus. The
    * day-2 shape of d1: once 100 TB is landed and deduped, each new
    * increment must answer "seen before?" per doc, and a digest
    * equi-join of batch × landed hash-shuffles the landed side on
    * every ingest.
    *
    * Plan instead (Spark's own runtime-filter machinery, driven
    * explicitly):
    *  1. ONE pass over the landed digests builds the [[DigestIndex]]:
    *     the landed count and the Bloom filter land from a single
    *     two-expression aggregate (`count` + `BloomFilterAggregate` —
    *     partial blooms merge per-task, one binary blob reaches the
    *     driver; round 6 paid a separate count scan first);
    *  2. the batch probes the bloom as a LITERAL via
    *     `BloomFilterMightContain` — map-side, codegen'd, no join: the
    *     bloom's no-false-negative guarantee means every true
    *     re-arrival survives, and ~1% of fresh docs tag along as FPs;
    *  3. exact verification de-FPs the candidates: the landed corpus
    *     STREAMS through a broadcast semi-join against the (tiny)
    *     candidate digest set — broadcast exchanges only, never a
    *     corpus hash partition.
    * Output statuses are therefore EXACT (`new` / `dup_of_landed` /
    * `dup_in_batch`), which is what lets DuckDB mirror the semantics
    * with plain joins while the bloom stays a pure physical
    * optimization — the oracle proves the probe+verify pipeline loses
    * and invents nothing. Within-batch policy: first doc_id wins;
    * a digest already landed marks ALL its batch docs dup_of_landed.
    *
    * The driver carries exactly one DigestIndex per ingest (count +
    * bloom blob — the same bounded-collect class as I3's frontier
    * probes; Spark's own InjectRuntimeFilter materializes the identical
    * blob through a scalar subquery). At 100 TB the landed side is the
    * compact digest index the sink maintains (CorpusStream persists one
    * per batch and MERGES increments instead of re-folding), and the
    * bloom (~1.2 GB per 10^9 docs at 1% FP) ships once per ingest,
    * amortized across every batch partition. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val landed = d.filter(col("doc_id") % 4 =!= 0)
    // the arriving batch: fresh docs + re-arrivals of landed content
    // (new ids, same text) + in-batch re-emissions — the three cases a
    // real ingest must separate, planted deterministically so the
    // oracle reconstructs the same batch with UNION ALL
    val batch = d.filter(col("doc_id") % 4 === 0)
      .unionByName(d.filter(col("doc_id") % 4 =!= 0 && col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 4 === 0 && col("doc_id") % 10 === 2)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    incrementalDedupOf(landed, batch)
  }

  /** Compact landed-digest index: landed cardinality + a Bloom filter
    * over `xxhash64(digest)`, both landed from ONE aggregate pass (two
    * agg expressions — round 6 paid a separate count scan and then a
    * separate bloom fold). `bloom` is Spark's sketch serialization
    * (`BloomFilterAggregate` emits it, `BloomFilter.readFrom` reads
    * it), so a snapshot persists as a plain binary column and two
    * indexes built at the same `expectedItems` sizing MERGE by OR-ing
    * bit sets — the incrementally-maintained index the streaming
    * ingest keeps alongside its sink (CorpusStream), where round 6
    * re-folded the ENTIRE landed corpus every micro-batch.
    * `bloom == null` encodes an empty corpus (a bloom aggregate over
    * zero rows yields a null sketch).
    *
    * Sizing: `expectedItems` fixes the bit width (~1% FP at that
    * cardinality) for the whole index LINEAGE — increments must share
    * it to merge. A corpus outgrowing it degrades the FP rate (more
    * verify candidates) but never correctness: no-false-negatives is
    * sizing-independent, and every candidate is exactly verified.
    * Production rule: rebuild one tier up when nLanded nears
    * expectedItems. */
  case class DigestIndex(nLanded: Long, expectedItems: Long, bloom: Array[Byte])

  /** Default index sizing: 2^20 docs ≈ 1.2 MB of bloom at 1% FP. */
  val IndexExpectedItems = 1L << 20

  /** FP bit count for n items at rate p (n·ln p / ln²2), floored at
    * 64. Default 1% — d8's classify tier, where every candidate is
    * exactly verified anyway; the streaming LedgerIndex sidecars size
    * at 1e-5 so a typical all-fresh batch has NO candidates and skips
    * its landed read entirely (P(any FP in a 500-doc batch) ~0.5%). */
  def bloomBitsFor(n: Long, fpp: Double = 0.01): Long = math.max(64L,
    math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** Build a [[DigestIndex]] over a (digest) frame in ONE pass. Two
    * indexes MERGE only if built at the same (expectedItems, fpp) —
    * one sizing per index lineage (mergeIndexes checks expectedItems;
    * Spark's sketch merge rejects mismatched bit widths).
    *
    * The fold is a per-partition sketch build + tree-reduce rather
    * than the SQL `BloomFilterAggregate`: the SQL aggregate SILENTLY
    * clamps its bit count at `spark.sql.optimizer.runtime.bloomFilter.
    * maxNumBits` (64M bits = 8 MiB — it was built for runtime join
    * filters, not persisted indexes), so past ~3M keys the sidecar
    * degraded toward ~0.2% fpp and nearly EVERY 500-doc batch paid a
    * landed ledger pass — measured as the st8/st9 growth term on the
    * 1000× (5M-doc) ladder rung. The sketch API honors the requested
    * sizing; the serialized form is identical (mergeIncrement and
    * BloomFilterMightContain already read it interchangeably). The
    * reduce ships one partition-sized bloom per task once per
    * BUILD/REBUILD — at 10⁹ keys (~1.2 GB bloom) the build shards by
    * key hash instead; per-batch cost is unchanged either way. */
  def digestIndexOf(digests: DataFrame,
      expectedItems: Long = IndexExpectedItems,
      fpp: Double = 0.01): DigestIndex = {
    val bits = bloomBitsFor(expectedItems, fpp)
    val rdd = digests.select(xxhash64(col("digest")).as("h"))
      .rdd.map(_.getLong(0))
    // a zero-partition frame (empty local relation) has nothing to
    // reduce; same contract as zero ROWS below — a null bloom
    if (rdd.getNumPartitions == 0) return DigestIndex(0L, expectedItems, null)
    val (n, bf) = rdd
      .mapPartitions { it =>
        val b = org.apache.spark.util.sketch.BloomFilter.create(expectedItems, bits)
        var c = 0L
        while (it.hasNext) { b.putLong(it.next()); c += 1 }
        Iterator.single((c, b))
      }
      .treeReduce({ case ((c1, b1), (c2, b2)) =>
        b1.mergeInPlace(b2); (c1 + c2, b1)
      }, depth = 2)
    if (n == 0L) DigestIndex(0L, expectedItems, null) // the empty-corpus contract
    else {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      DigestIndex(n, expectedItems, bos.toByteArray)
    }
  }

  /** OR two same-sizing indexes together — driver-side and bounded
    * (two bloom blobs). The streaming ingest merges each batch's
    * increment into the persisted index instead of re-folding the
    * landed corpus. */
  def mergeIndexes(a: DigestIndex, b: DigestIndex): DigestIndex = {
    require(a.expectedItems == b.expectedItems,
      s"digest indexes sized differently (${a.expectedItems} vs ${b.expectedItems}) cannot merge")
    val bloom = (a.bloom, b.bloom) match {
      case (null, x) => x
      case (x, null) => x
      case (x, y) =>
        val fa = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(x))
        fa.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(y)))
        val bos = new java.io.ByteArrayOutputStream()
        fa.writeTo(bos)
        bos.toByteArray
    }
    DigestIndex(a.nLanded + b.nLanded, a.expectedItems, bloom)
  }

  /** The operator proper: classify `batch` docs against `landed`
    * (both (doc_id, text)); see [[incrementalDedup]] for the plan.
    * Index build + classification = two landed-side passes total
    * (round 6 took three: count, bloom fold, verify). */
  def incrementalDedupOf(landed: DataFrame, batch: DataFrame): DataFrame = {
    val landedD = landed.select(md5(col("text")).as("digest"))
    classifyAgainstIndex(landedD, batch, digestIndexOf(landedD))
  }

  /** Classify a batch against a landed DIGEST frame through a pre-built
    * index: the map-side bloom probe (no-false-negatives ⇒ every true
    * re-arrival survives), then the landed digests stream past the
    * broadcast candidate set ONCE to de-FP — the only landed-side pass
    * when the index is maintained incrementally (the streaming sink's
    * steady state). */
  def classifyAgainstIndex(landedDigests: DataFrame, batch: DataFrame,
      index: DigestIndex): DataFrame = {
    import org.apache.spark.sql.GraftShims.{toCol, toExpr}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

    val batchD = batch.select(col("doc_id"), md5(col("text")).as("digest"))
    // map-side probe; an empty landed corpus has no bloom → no candidates
    val candidates =
      if (index.bloom == null) batchD.filter(lit(false))
      else batchD.filter(toCol(BloomFilterMightContain(
        toExpr(lit(index.bloom)), toExpr(xxhash64(col("digest"))))))

    // exact verify: landed STREAMS past the broadcast candidate set;
    // only the (few) matched rows reach the distinct's exchange
    val confirmed = landedDigests
      .join(broadcast(candidates.select(col("digest")).distinct()),
        Seq("digest"), "leftsemi")
      .distinct()
      .withColumn("landed_hit", lit(true))

    val firsts = batchD.groupBy(col("digest")).agg(min(col("doc_id")).as("first_id"))
    batchD
      .join(broadcast(firsts), Seq("digest"))
      .join(broadcast(confirmed), Seq("digest"), "left")
      .select(col("doc_id"),
        when(col("landed_hit"), lit("dup_of_landed"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** D9: SEMANTIC dedup — near-duplicate removal in embedding space
    * (the SemDeDup recipe, Abbas et al. 2023, arXiv:2303.09540 —
    * public method): embed every document, cluster the embeddings
    * coarsely, compare only WITHIN a cluster, and drop the greater id
    * of every pair above a cosine threshold. Catches what lexical
    * tiers (d2/d3/d4) structurally miss — paraphrases and re-renders
    * that share meaning but few shingles — which is why production
    * corpus builds run both families.
    *
    * Embedder: the deterministic [[graft.functions.StubEmbed]] seam
    * (X5's discipline — swap in a real model, the plan is unchanged).
    * Because StubEmbed is mirrored component-for-component in the
    * DuckDB oracle, the WHOLE tier — embedding, centroid assignment,
    * within-cell pair scan, threshold, per-cell rollup — is
    * hash-checked, not just row-counted. Clustering reuses the v5
    * selection rule (first-8 docs as coarse centroids, argmax cosine,
    * cent_id tie-break) so assignment stays SQL-expressible; a
    * production run swaps in kmeansConverged centroids exactly as the
    * IVF tier does ([[Similarity.materializeIvfTrained]]).
    *
    * Scale shape: the all-pairs comparison is gated entirely by CELL
    * sizes — the corpus is never compared across cells (v2's blocking
    * argument; a cell that outgrows an executor sub-buckets by LSH or
    * splits its centroid). Assignment is k VecDots per row in the
    * scan stage with the centroid set broadcast; the rollup is one
    * |cells|-group partial agg. Output pins exact drop MEMBERSHIP
    * per cell (dropped_id_sum), not just counts. */
  /** d9's drop threshold — interpolated into the oracle, so the two
    * sides can never drift. SemDeDup's production range is 0.9-0.97;
    * 0.95 keeps fixture drops non-trivial at every SF. */
  val SemanticTau = 0.95

  def semanticDedup(spark: SparkSession, dir: String, tau: Double = SemanticTau): DataFrame =
    semanticDedupOf(documents(spark, dir), tau)

  private[graft] def semanticDedupOf(docs: DataFrame, tau: Double = SemanticTau): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = docs
      .select(col("doc_id"), graft.functions.StubEmbed(col("text")).as("emb"))
    val cents = e.filter(col("doc_id") < Similarity.IvfCentroids)
      .select(col("doc_id").as("cent_id"), col("emb").as("cent_emb"))
    // assignment feeds both self-join sides and the totals rollup;
    // the row's norm is computed ONCE here — the pair scan is the hot
    // path (cells × members²) and per-pair cosine would recompute both
    // norms per pair, tripling its VecDot count. Same doubles, same
    // order: dot/(nrmA·nrmB) is bit-identical to Vectors.cosine, so
    // the oracle's plain-cosine formulation still hash-matches.
    val assigned = shared(e.crossJoin(broadcast(cents))
      .withColumn("csim", graft.functions.Vectors.cosine(col("emb"), col("cent_emb")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(org.apache.spark.sql.functions.desc("csim"), col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("emb"), col("cent_id"),
        graft.functions.Vectors.norm(col("emb")).as("nrm")))
    materializeAndRelease(withinCellRollup(assigned, tau), assigned)
  }

  /** The within-cell exact pass + per-cell rollup shared by d9 and the
    * trained d9b tier: `assigned` carries (doc_id, emb, cent_id, nrm)
    * with nrm = ‖emb‖ precomputed (see the comment in
    * [[semanticDedupOf]] — the pair scan is cells × members² and must
    * not recompute norms per pair). */
  private def withinCellRollup(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cent_id"), col("doc_id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("cent_id"), col("doc_id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    val denom = col("a_nrm") * col("b_nrm")
    val pairSim = when(denom === 0, lit(0.0))
      .otherwise(graft.functions.Vectors.dot(col("a_emb"), col("b_emb")) / denom)
    val drops = a.join(b, Seq("cent_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(pairSim >= tau)
      .select(col("cent_id"), col("b_id")).distinct()
    val dropAgg = drops.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_dropped"), sum(col("b_id")).as("dropped_id_sum"))
    assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n_total"))
      .join(dropAgg, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_total"),
        (col("n_total") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("dropped_id_sum"), lit(0L)).as("dropped_id_sum"))
      .orderBy(col("cent_id"))
  }

  /** d9b's target within-cell population. The TRAINED tier scales the
    * CENTROID COUNT with the corpus (k = ⌈n / SemCellTarget⌉) so cells
    * stay ~this size as the corpus grows — SemDeDup's own scaling rule,
    * and the swap that turns d9's measured (k/8)² within-cell blowup
    * (SCALE.md §1) into linear work: per-cell pairs are bounded, cell
    * count grows with n, total pair volume ~n × SemCellTarget. 256
    * keeps the fixture's cells non-trivial from sf0.001 up while the
    * assignment term (n × k dots) stays probe-affordable at the 100×
    * ladder; a production run tunes it to whatever pair budget an
    * executor core absorbs, and past the point where k × dim stops
    * fitting a task binary (~10⁶ cells) assignment goes hierarchical
    * (see [[graft.functions.ArgMaxCosine]]). */
  val SemCellTarget = 256L

  /** Lloyd training inputs for the trained tier: 8 sample vectors per
    * centroid (floor 20k) keeps the training pass bounded while k
    * scales with the corpus — training cost is sample×k×dim per round,
    * the full corpus is touched exactly once (the final assignment). */
  private val SemTrainPerCell = 8L
  private val SemTrainFloor = 20000L
  private val SemTrainIters = 10

  /** The landed trained-cell index's path, recorded at landing so the
    * d9b oracle can read the artifact's OWN `_centroids/` table (the
    * v9c treatment: Lloyd's float iteration needn't be mirrored in
    * SQL — the oracle takes the landed centroids as input and
    * independently recomputes assignment, the within-cell pass, and
    * the rollup from them). KEYED BY DATA DIR (round-15 ADVICE): a
    * single process-wide slot was silently overwritten when d9b ran
    * against more than one data dir in a session (scale ladder,
    * multi-dir verify), making the oracle compare against the wrong
    * corpus's centroid table. The dump resolves the dir it is dumping
    * for (see SparkEntry.d9bSql). */
  // not a Landing: it records where d9b's landing went, for the oracle dump
  private[graft] val semCentroidsPathForOracle =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Lloyd over a bounded hash-sample of the doc-embedding frame, all
    * assignment map-side through [[graft.functions.ArgMaxCosine]] (the
    * crossJoin+window form's n×k embedding-wide exchange is exactly
    * what a corpus-scaled k cannot afford — see the expression's
    * scaladoc). Init = first k docs by id (the lloydLoop convention);
    * per round the only shuffle is the k×dim partial-agged centroid
    * re-estimate, and the only driver state is the k×dim centroid
    * matrix (bounded, ~0.5 MB per 1000 cells). Empty cells keep their
    * previous centroid. Returns (cent_ids, centroid matrix). */
  private[graft] def trainDocCentroids(e: DataFrame, n: Long, k: Int,
      maxIters: Int = SemTrainIters): (Array[Long], Array[Array[Double]]) = {
    val init = e.orderBy(col("doc_id")).limit(k).collect() // BOUNDED: k rows
    val ids = init.map(_.getLong(0))
    var cents = init.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    if (ids.isEmpty) return (ids, cents)
    val target = math.max(k.toLong * SemTrainPerCell, SemTrainFloor)
    val every = math.max(1L, n / math.max(1L, target))
    val sample = (if (every == 1L) e
      else e.filter(pmod(xxhash64(col("doc_id")), lit(every)) === 0))
      .localCheckpoint(true) // one materialization feeds every round
    try {
      val idIdx = ids.zipWithIndex.toMap
      var iter = 0
      var moved = Double.MaxValue
      // float re-estimates never reach an exact fixpoint (sum order is
      // partition-dependent); 1e-9 on ~unit-norm components is "the
      // cells stopped moving" at double precision
      while (iter < maxIters && moved > 1e-9) {
        val est = sample
          .withColumn("cent_id",
            graft.functions.ArgMaxCosine(col("emb"), ids, cents))
          .select(col("cent_id"), posexplode(col("emb")))
          .groupBy(col("cent_id"), col("pos"))
          .agg((sum(col("col").cast("double")) / count(lit(1))).as("m"))
          .collect() // BOUNDED: ≤ k×dim rows
        val next = cents.map(_.clone())
        moved = 0.0
        est.foreach { r =>
          val i = idIdx(r.getLong(0)); val p = r.getInt(1); val m = r.getDouble(2)
          moved = math.max(moved, math.abs(m - next(i)(p)))
          next(i)(p) = m
        }
        cents = next
        iter += 1
      }
      (ids, cents)
    } finally { sample.unpersist(true); () }
  }

  /** Land the trained semantic-cell index for `dir`'s documents table:
    * the full assignment partitioned by cell + the centroid table
    * under `_centroids/` (the materializeIvfTrained layout, lifted
    * from the embeddings table to StubEmbed(document) vectors). */
  private[graft] def materializeSemCells(spark: SparkSession, dir: String,
      outPath: String): Unit =
    materializeSemCellsOf(
      documents(spark, dir).select(col("doc_id"), col("text")),
      graft.Tables.parquetRowCount(spark, dir, "documents"), outPath)

  private[graft] def materializeSemCellsOf(docs: DataFrame, n: Long,
      outPath: String): Unit = {
    val spark = docs.sparkSession
    val k = math.min(math.max(8L, (n + SemCellTarget - 1) / SemCellTarget), n max 1L).toInt
    val e = docs
      .select(col("doc_id"), graft.functions.StubEmbed(col("text")).as("emb"))
      .localCheckpoint(true) // feeds training AND the assignment write
    try {
      val (ids, cents) = trainDocCentroids(e, n, k)
      if (ids.isEmpty)
        // empty corpus: keep the artifact READABLE (one 0-row file with
        // schema — a write of zero partitions leaves only _SUCCESS and
        // read-back would fail schema inference)
        e.withColumn("cent_id", lit(null).cast("long"))
          .repartition(1).write.mode("overwrite").parquet(outPath)
      else
        // FLAT layout, deliberately NOT partitionBy(cent_id) (the IVF
        // index's layout): d9b consumes EVERY cell in one pass — the
        // within-cell join shuffles on cent_id regardless — so cell
        // pruning buys nothing, while file-per-cell at a corpus-scaled
        // k (n/256 dirs) is exactly the small-file pathology s16b's
        // compaction exists to undo. ANN probes (few cells per query)
        // keep the partitioned layout; corpus passes keep flat.
        e.withColumn("cent_id",
            graft.functions.ArgMaxCosine(col("emb"), ids, cents))
          .write.mode("overwrite").parquet(outPath)
      val centRows = ids.zip(cents).toSeq
        .map { case (id, c) => org.apache.spark.sql.Row(id, c.toSeq) }
      spark.createDataFrame(spark.sparkContext.parallelize(centRows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cent_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cent_emb",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)))))
        .write.mode("overwrite").parquet(s"$outPath/_centroids")
    } finally { e.unpersist(true); () }
  }

  /** D9b: semantic dedup against corpus-scaled TRAINED centroids — the
    * production form the d9 scaladoc names (and round-14's one measured
    * scale blowup, closed). The index lands once per corpus content
    * (fingerprint memo, the v9c treatment): converged Lloyd centroids
    * over the document embeddings, full assignment written partitioned
    * by cell. The query then reads the landed assignment and runs the
    * SAME within-cell exact pass + rollup as d9 — per-cell populations
    * are ~[[SemCellTarget]] by construction, so the pair volume is
    * linear in the corpus where d9's fixed-8-cell form grows as (k/8)².
    * Oracle: DuckDB reads the landed `_centroids/` table and
    * independently recomputes assignment (argmax cosine, ties to the
    * smaller cent_id), the ≥τ pair scan, and the rollup — hash-checked
    * end to end; only Lloyd itself (pure training, its OUTPUT is the
    * checked input) is not re-derived in SQL. */
  def semanticDedupTrained(spark: SparkSession, dir: String,
      tau: Double = SemanticTau): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_semcells", "documents.parquet")(
      materializeSemCells(spark, dir, _))
    semCentroidsPathForOracle.put(dir, path)
    semanticDedupOverCells(spark, path, tau)
  }

  /** The d9b query body over an already-landed cell index (shared with
    * the spec, which lands fixture frames through
    * [[materializeSemCellsOf]]). */
  private[graft] def semanticDedupOverCells(spark: SparkSession,
      path: String, tau: Double): DataFrame = {
    val assigned = shared(Tables.parquet(spark, path)
      .filter(col("cent_id").isNotNull) // the empty-corpus artifact
      .select(col("doc_id"), col("emb"),
        col("cent_id").cast("long").as("cent_id"),
        graft.functions.Vectors.norm(col("emb")).as("nrm")))
    materializeAndRelease(withinCellRollup(assigned, tau), assigned)
  }

  /** d10's gram width in tokens. Lee et al. use 50 BPE tokens on web
    * crawl; 8 whitespace tokens keeps planted fixture spans (and the
    * corpus' real shared sentences) detectable at every SF while the
    * shape — and the oracle arithmetic — is width-independent. */
  val SpanGram = 8

  /** D10: duplicate-SPAN detection — substring-level dedup in the
    * style of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2021, arXiv:2107.06499 — public method),
    * which removes any ≥k-token run that appears more than once in
    * the corpus. The doc-level tiers (d1-d4, d9) keep or drop WHOLE
    * documents; this tier finds the duplicated text INSIDE kept
    * documents — boilerplate headers, quoted replies, license
    * blocks — which doc-level dedup structurally cannot touch.
    *
    * Spark-first shape — the published method builds a corpus-wide
    * suffix array, a data structure with no distributed analog; the
    * re-expression is that "some k-token gram occurs ≥2 times" is a
    * GROUP-BY, not a join or a suffix sort:
    *  1. explode each doc into its k-token rolling grams with their
    *     token position (one md5Long per gram, computed in the scan
    *     stage);
    *  2. count occurrences per gram hash — a partial-aggregated
    *     shuffle, so a boilerplate gram in every doc arrives at its
    *     reducer as ~one count per map partition, never a posting
    *     list;
    *  3. semi-join the gram stream back to the ≥2-count hashes (the
    *     second and last gram_h shuffle — fanout exactly 1 per hit);
    *  4. merge each doc's hit positions into MAXIMAL spans (two hits
    *     p<p' overlap or touch iff p'-p ≤ k) with one per-doc window —
    *     the gaps-and-islands pass, partition size bounded by doc
    *     length.
    * No pair join appears anywhere: cost is linear in corpus grams at
    * any duplication density, where d2's inverted-index join grows
    * with the candidate-pair count. Unlike d2/d6 there is no df cap —
    * a gram shared by ten thousand docs is exactly what this tier
    * exists to flag, and it costs one count row, not a 10^8-row
    * fanout.
    *
    * Output: per doc with ≥1 duplicated span — span count, duplicated
    * token count, and the parts-per-million duplicated ratio (floor'd
    * double math, the t2 portability convention). Every stage is
    * mirrored exactly in the DuckDB oracle (same md5-derived gram
    * hash, same island rule), so the tier is hash-checked end to end. */
  def duplicateSpans(spark: SparkSession, dir: String, k: Int = SpanGram): DataFrame =
    duplicateSpansOf(documents(spark, dir), k)

  /** Shared span-detection core for d10/d10b: the tokenized corpus
    * plus each doc's MAXIMAL duplicated-span ranges `[s, e]`
    * (inclusive 0-based token positions — disjoint by the island
    * rule: hits further than k apart cannot overlap as k-gram spans).
    * Returns the two frames plus the persisted inputs the caller must
    * release (the surprisal convention). */
  private def spanIslandsOf(input: DataFrame, k: Int): (DataFrame, DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val docs = shared(input
      .repartition(col("doc_id")) // BEFORE hashing — see ngramJaccardPairs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w")))
    val grams = shared(docs
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("w")) - k),
          i => md5Long(array_join(slice(col("w"), i + 1, lit(k)), " "))))
        .as(Seq("pos", "gram_h"))))
    val dup = grams.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("gram_h"))
    val hits = grams.join(dup, Seq("gram_h"), "left_semi")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // first hit of a doc: pos - lag = null, null <= k is null → new
    // span — the same three-valued CASE the oracle evaluates
    val spans = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("span_id", sum(col("brk")).over(byPos))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("s"),
        (max(col("pos")) + k - 1).cast("long").as("e"))
    (docs, spans, Seq(docs, grams))
  }

  /** Frame-based form of [[duplicateSpans]] — the spec suite plants
    * known-span corpora through it (the repetitionStatsOf pattern). */
  private[graft] def duplicateSpansOf(input: DataFrame, k: Int = SpanGram): DataFrame = {
    val (docs, spans, cached) = spanIslandsOf(input, k)
    val result = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens")) // span_len = max+k-min
      .join(docs.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens")),
        Seq("doc_id"))
      .withColumn("dup_ppm",
        floor(col("dup_tokens") * lit(1000000.0) / col("n_tokens")).cast("bigint"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("dup_tokens"), col("dup_ppm"))
      .orderBy(col("doc_id"))
    materializeAndRelease(result, cached: _*)
  }

  /** D10b: duplicated-span EXCISION — the ACTION d10's report calls
    * for (Lee et al. 2022, arXiv:2107.06499: removing repeated
    * substrings from training text; the MassiveText/RefinedWeb
    * recipes scrub them in place rather than dropping whole docs).
    * Every token position covered by a maximal duplicated span is
    * removed from every occurrence — symmetric excision, the
    * conservative variant that needs no global canonical-copy
    * election (and so no extra corpus-wide argmin pass).
    *
    * Plan shape for 100 TB: span detection is d10's linear pipeline
    * (no pair join); the excision itself is ONE left join of the
    * tokenized corpus against the per-doc span lists — both sides
    * already partitioned by doc_id, so the join reuses the detection
    * pass's partitioning — and the token drop is a lambda
    * `filter(w, (tok, i) -> no span covers i)` in the projection, with
    * the per-doc span list bounded by doc length (spans are disjoint).
    * Output carries the full cleaned corpus, so the operator pipelines
    * straight into a sink or the next curation stage. */
  def spanScrub(spark: SparkSession, dir: String, k: Int = SpanGram): DataFrame =
    spanScrubOf(documents(spark, dir), k)

  /** Frame-based form of [[spanScrub]] — spec entry point. */
  private[graft] def spanScrubOf(input: DataFrame, k: Int = SpanGram): DataFrame = {
    val (docs, spans, cached) = spanIslandsOf(input, k)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    val result = docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("w")).otherwise(
          filter(col("w"), (_, i) =>
            !exists(col("spans"), sp =>
              i.cast("long") >= sp("s") && i.cast("long") <= sp("e")))))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy(col("doc_id"))
    materializeAndRelease(result, cached: _*)
  }

  /** D11: cross-source VOCABULARY overlap by HLL sketch union — the
    * mixture-design diagnostic ("how much does source A's gram space
    * overlap source B's?") that at 100 TB must NOT be a join: per
    * source, one HLL sketch over its distinct 3-gram space (a single
    * partial-agged corpus pass — sketches merge per-task); every
    * source pair is then estimated from the K landed sketches alone,
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) with `hll_union` a pure
    * column function over two binary sketch blobs on a K²-row frame.
    * The DSIR/mixture tier (c5/c8) consumes exactly this shape when
    * weighing sources against each other.
    *
    * Oracle discipline is a5b's: sketch INTERNALS are engine-specific
    * (DataSketches HLL here, DuckDB's own approx_count_distinct
    * there), so the gate emits the exact anchors (distinct gram
    * counts, exact overlap — the verification columns a production
    * monitor drops) plus a BOOLEAN per pair asserting the engine's own
    * estimate lands within 5% of (n_a + n_b) of the exact overlap —
    * both engines' sketches are near-exact at fixture cardinalities,
    * so hash equality proves each engine's inclusion-exclusion
    * pipeline works without demanding cross-engine sketch parity.
    * The absolute-of-sum bound (not relative-to-overlap) keeps the
    * verdict meaningful when two sources share little: three ±ε
    * sketch terms compound against a small intersection, which is the
    * published caveat of inclusion-exclusion on HLLs. */

  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(documents(spark, dir))

  // d11 itself generates fresh (the honest matrix-generation cost);
  // downstream consumers (c11's mixture weights) read this landing
  private[operators] def sourceOverlapLanded(spark: SparkSession, dir: String): DataFrame =
    Landing.frame(spark, dir, "d11", "source overlap matrix") {
      sourceOverlapOf(documents(spark, dir))
    }

  private[graft] def sourceOverlapOf(input: DataFrame): DataFrame = {
    val (est, g) = sourceOverlapEstimates(input)
    // the exact anchor: gate-time verification only (a corpus-shaped
    // gram join the production monitor never runs — it reads sketches);
    // rows are unique per (gram_h, pair), so the rollup is count(*)
    val exact = g.select(col("source").as("source_a"), col("gram_h"))
      .join(g.select(col("source").as("source_b"), col("gram_h")), Seq("gram_h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("ov_exact"))
    val out = est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("ov_exact"), lit(0L)).as("ov_exact"),
        (abs(col("est") - coalesce(col("ov_exact"), lit(0L))) <=
          lit(0.05) * (col("n_a") + col("n_b"))).as("ov_ok"))
      .orderBy(col("source_a"), col("source_b"))
    materializeAndRelease(out, g)
  }

  /** The PRODUCTION path of d11: per-pair estimates from the K landed
    * sketches alone — one corpus pass, no gram join. Returns (the
    * K²/2-row estimate frame, the persisted gram frame for the caller
    * to extend or release). The gate form adds the exact anchor on
    * top; the probe measures this path by itself. */
  private[graft] def sourceOverlapEstimates(input: DataFrame): (DataFrame, DataFrame) = {
    val g = sourceGramFrame(input)
    (estimatesFromSketches(perSourceSketches(g)), g)
  }

  /** The distinct (source, gram_h) frame — 60-bit gram hashes, not
    * strings: same counts on both engines absent collisions (~n²/2⁶¹ —
    * the d2 argument), half the shuffle bytes through the anchor join
    * and the sketch agg. Distinct per (source, gram_h), so downstream
    * counts are plain count(*) — no second distinct aggregation.
    * Persisted (`shared`) — callers release via materializeAndRelease. */
  private[graft] def sourceGramFrame(input: DataFrame): DataFrame =
    shared(input
      .repartition(col("doc_id")) // spread the shingle map (d2's note)
      .select(col("source"), explode(shingles(col("text"))).as("gram"))
      .select(col("source"), md5Long(col("gram")).as("gram_h"))
      .distinct())

  /** The K-row per-source artifact d11's design lands in production:
    * one HLL sketch over each source's distinct gram space plus its
    * EXACT distinct-gram count (the count is a by-product of the same
    * partial-agged pass — `g` is already distinct per (source, gram)).
    * Everything downstream — pair estimates (d11b), mixture weights
    * (c11) — derives from this frame without touching grams again. */
  private[graft] def perSourceSketches(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.hll_sketch_agg
    g.groupBy(col("source")).agg(
      hll_sketch_agg(col("gram_h")).as("sk"),
      count(lit(1)).as("n_grams"))
  }

  /** K²/2 pair estimates from the K sketches ALONE — inclusion-
    * exclusion over `hll_union`, pure column functions on a
    * broadcast-scale frame. No gram join anywhere. */
  private[graft] def estimatesFromSketches(per: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{hll_sketch_estimate, hll_union}
    val a = per.select(col("source").as("source_a"), col("sk").as("sk_a"),
      col("n_grams").as("n_a"))
    val b = per.select(col("source").as("source_b"), col("sk").as("sk_b"),
      col("n_grams").as("n_b"))
    // K sources → K²/2 pairs; both sides are K-row frames (broadcast)
    a.crossJoin(broadcast(b))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b")) -
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))).as("est"))
  }

  // one corpus gram pass per session, shared by d11b and c11
  private[graft] def sourceSketchesLanded(spark: SparkSession, dir: String): DataFrame =
    Landing.frame(spark, dir, "d11b", "per-source gram sketches") {
      val g = sourceGramFrame(documents(spark, dir))
      materializeAndRelease(perSourceSketches(g), g)
    }

  /** D11b: the PRODUCTION path of d11 gated by itself — pair overlap
    * estimated from the landed per-source sketches with NO gram join
    * in the plan. Sketch-only means no exact overlap is available to
    * verify against (that anchor is exactly what d11 pays its gram
    * self-join for), so the a5b within-engine discipline here checks
    * each engine's estimate against the FEASIBILITY ENVELOPE its own
    * exact marginals impose — overlap is at least 0 and at most
    * min(n_a, n_b) — widened by the same ±5%·(n_a+n_b) bound d11
    * uses. Hash equality proves both engines' sketch-only inclusion-
    * exclusion pipelines produce in-envelope estimates over
    * hash-identical exact marginals; d11's anchor remains the
    * stronger 5%-of-exact verification, run at gate time only. */
  def sketchOverlap(spark: SparkSession, dir: String): DataFrame = {
    val est = estimatesFromSketches(sourceSketchesLanded(spark, dir))
    est.select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        (col("est") >= lit(-0.05) * (col("n_a") + col("n_b")) &&
          col("est") <= least(col("n_a"), col("n_b")) +
            lit(0.05) * (col("n_a") + col("n_b"))).as("est_ok"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
