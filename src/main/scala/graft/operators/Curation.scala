package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-data curation pipeline — the end-to-end composition a
  * large-scale corpus build runs before a single training token is
  * emitted, assembled from the engine's own tiers:
  *
  *   quality gate (t2's token accounting) →
  *   exact dedup, min-id survivor (d1) →
  *   near-dup removal over survivors (d2's capped inverted index) →
  *   deterministic hash split into train/eval.
  *
  * Every stage is a deterministic function of the corpus, so the WHOLE
  * pipeline is oracle-checkable — the c1 gate hash-matches a DuckDB
  * formulation of all four stages chained, which is the strongest check
  * this engine can make of a multi-stage composition (each stage's
  * errors would compound, so a final-rollup match pins them all).
  *
  * Scale shape: one shuffle for the digest group (d1), the df-capped
  * posting-list self-join bounded by gram frequency (d2 — the cap is
  * computed over the SURVIVOR corpus, so boilerplate that became hot
  * after dedup still gets pruned), and a map-only split. The near-dup
  * stage consumes exact-dedup survivors, not the raw corpus: at 100 TB
  * exact dups are the bulk of the waste (crawl mirrors), and removing
  * them first shrinks the expensive stage's input for free.
  *
  * Split determinism matters operationally: eval membership is a pure
  * function of doc_id (md5 prefix mod 10), so re-running the pipeline
  * after an incremental corpus append never migrates an old document
  * across the split boundary — the property that keeps eval sets
  * uncontaminated across refreshes.
  */
object Curation {

  val MinTokens = 20
  val EvalBuckets = 10 // 1-in-10 docs → eval

  /** split column: 'eval' if the doc's md5 bucket is 0, else 'train' —
    * engine-portable (DuckDB: ('0x' || substr(md5(..),1,4))::INT). */
  private def splitCol(docId: org.apache.spark.sql.Column) =
    when(conv(substring(md5(docId.cast("string")), 1, 4), 16, 10)
      .cast("int") % EvalBuckets === 0, lit("eval")).otherwise(lit("train"))

  /** Quality gate + exact-dedup survivors — the shared front half of
    * both curation compositions: one shuffle on the digest, min-id
    * survivor (d1's rule) — window instead of groupBy+self-join so
    * lang/n_tokens ride along without a second join. */
  private def exactSurvivors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .filter(col("n_tokens") >= MinTokens)
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .drop("rk")

  /** The memoized (survivors, pairs) landing: qualifying near-dup
    * pairs (a_id < b_id, jaccard >= 0.8) over the exact-dedup
    * survivors, PLUS the survivor frame itself — both materialized
    * once per (session, corpus). The survivor frame rides along
    * (review finding, round 9): c1/c1b each need it again for the
    * kept anti-join, and without the memo every call re-ran the
    * quality-gate scan + md5 dedup window the pair memo was
    * introduced to stop re-billing. */
  private def survivorsAndPairs(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Landing.frame(spark, dir, "c1", "survivor pair frame") {
      // landed first: ngramJaccardPairsOf reads its input twice (df-cap
      // count + posting-list build). A checkpoint, not a persist: over
      // an in-memory relation AQE gives each branch its own cache stage,
      // so the pair plan's branches stop sharing one shuffle and the
      // corpus is shingled three times (+0.4 s executor CPU at sf0.1)
      val survivors = exactSurvivors(spark, dir).localCheckpoint(true)
      // ngramJaccardPairsOf returns an eagerly-materialized frame;
      // the narrow select on top needs no second checkpoint
      val pairs = Dedup.ngramJaccardPairsOf(
          survivors.select(col("doc_id"), col("text")))
        .select(col("a_id"), col("b_id"))
      (survivors, pairs)
    }

  /** c1: the curated-corpus rollup — (lang, split) → docs + tokens.
    * Small, totally ordered, hash-comparable.
    *
    * near-dup rule: the GREATER id of every qualifying pair is dropped
    * (deterministic regardless of chain order — b falls whether or not
    * a also falls). The pair tier is pluggable: at 100 TB swap in the
    * MinHash/LSH pairs (Dedup.minhashLshPairs — constant-size
    * signatures decouple join width from document length); d2 is used
    * here because its exact Jaccard formulation chains into the
    * single-statement oracle. Pair generation is the memoized
    * [[survivorsAndPairs]] frame shared with c1b. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val (exact, pairs) = survivorsAndPairs(spark, dir)
    val nearDupIds = pairs
      .select(col("b_id").as("doc_id")).distinct()
    val kept = exact.join(nearDupIds, Seq("doc_id"), "left_anti")
    kept
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  /** c1b: cluster-aware curation — the PRODUCTION composition where the
    * near-dup PAIR frame is materialized once and consumed by BOTH
    * clustering and survivor selection (round-5 verdict: d7 re-derived
    * its d2 edge subplan, ~2.4 s of its 3.1 s, and a real corpus build
    * runs these stages together).
    *
    * Differences from [[curate]]: pairs chain into d7's connected
    * components, and survivors are keep-ONE-per-component (the
    * component's min doc_id — c1's per-pair b-drop rule can drop every
    * member of a cycle-free chain except its head twice over, but
    * cannot name a canonical representative; the component rule can,
    * and it is what dedup pipelines ship). The pair subplan is the
    * memoized [[survivorsAndPairs]] materialization (billed once per
    * corpus per session, shared with c1); the CC loop reads it and
    * survivor selection consumes the LABELS (doc_id != label ⇒ drop),
    * not the pairs.
    *
    * Oracle: quality gate + exact dedup + capped pair join + recursive
    * transitive closure + keep-min + rollup, all in ONE DuckDB
    * statement — the strongest composition check in the suite. */
  def curateClustered(spark: SparkSession, dir: String): DataFrame = {
    val (exact, pairs) = survivorsAndPairs(spark, dir)
    // the pair frame: the memoized materialization, fed to CC; labels
    // drive the survivor drop
    val dropIds = Graph.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id"))
    val kept = exact.join(dropIds, Seq("doc_id"), "left_anti")
    kept
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val PackBudget = 2048 // tokens per packed sequence

  /** Small-corpus floor / density for the DERIVED pack-shard count
    * (the df-cap treatment, round-8 verdict #3: a constant shard
    * count caps window parallelism at |langs|×8 regardless of corpus
    * size). One shard per PackShardPerDocs documents keeps the
    * sequential-cumsum working set per window partition bounded as the
    * corpus grows; the floor preserves small-corpus behavior (both
    * fixtures derive exactly the old constant 8, so c2's output is
    * unchanged). Integer ceil arithmetic, bit-identical across engines. */
  val PackShardFloor = 8L
  val PackShardPerDocs = 2000L

  /** Corpus-size → shard count (shared arithmetic; specs, oracle). */
  def derivedPackShards(nDocs: Long): Long =
    math.max(PackShardFloor, (nDocs + PackShardPerDocs - 1) / PackShardPerDocs)

  /** Oracle-SQL twin of [[derivedPackShards]]: scalar subquery over the
    * same corpus relation, same integer arithmetic (dfCapSql's rule). */
  def packShardsSql(corpusRel: String): String =
    s"(SELECT greatest($PackShardFloor, (COUNT(*) + ${PackShardPerDocs - 1}) // $PackShardPerDocs) FROM $corpusRel)"

  /** c2: sequence packing — assign quality-surviving documents to
    * fixed-token-budget bins (the pre-training packing step: documents
    * are concatenated into budget-length sequences; the bin id is which
    * sequence a document STARTS in, contiguous-fill semantics).
    *
    * The assignment is a windowed running token total: bin =
    * floor((cumsum − own) / budget) over a deterministic (lang, shard)
    * order. Partitioning the window by (lang, shard=doc_id mod
    * shards) instead of lang alone is the scale decision: a cumulative
    * sum is inherently sequential WITHIN a partition, and language
    * cardinality is tiny, so lang-only windows would serialize the
    * corpus through a handful of tasks; sharding makes the window
    * parallel while bins stay deterministic (bins are arbitrary
    * groupings — only their fill matters to training). The shard count
    * is corpus-DERIVED ([[derivedPackShards]], from parquet footer
    * metadata — no job); CurationSpec proves bin semantics are
    * shard-invariant, so the derivation changes parallelism, never
    * results. Output is the per-lang packing summary (bin counts and
    * fill extrema), totally ordered. */
  def sequencePacking(spark: SparkSession, dir: String,
      budget: Int = PackBudget, shards: Long = 0L): DataFrame = {
    val nShards =
      if (shards > 0L) shards
      else derivedPackShards(graft.Tables.parquetRowCount(spark, dir, "documents"))
    val q = graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .filter(col("n_tokens") >= MinTokens)
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = q
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(budget.toDouble)))
    val perBin = binned.groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("bin_docs"), sum(col("n_tokens")).as("bin_tokens"))
    perBin.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("bin_docs")).as("n_docs"),
        sum(col("bin_tokens")).as("total_tokens"),
        max(col("bin_tokens")).as("max_bin_tokens"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- c3

  val BenchmarkBuckets = 50 // ~2% of docs play the held-out benchmark role

  /** Benchmark membership — a pure function of doc_id with a salt
    * ('contam:') DISTINCT from c1's split hash, so the decontamination
    * benchmark and the train/eval split are independent draws. */
  private def isBenchmarkCol(docId: Column): Column =
    conv(substring(md5(concat(lit("contam:"), docId.cast("string"))), 1, 4), 16, 10)
      .cast("int") % BenchmarkBuckets === 0

  /** c3: benchmark decontamination — flag training documents that share
    * any rare word 3-gram with a held-out benchmark document (the
    * standard pre-training hygiene pass: eval answers leaking into the
    * training corpus inflate reported capability, so contaminated
    * documents are quarantined before tokenization).
    *
    * Plan shape at 100 TB: shingle posting list (one map stage, the
    * TextShingles expression), a corpus-wide doc-frequency cap — hot
    * grams are boilerplate, not leakage; matching on them would
    * quarantine half the corpus — then a join of TRAIN grams against
    * BENCHMARK grams on the 60-bit gram hash. The benchmark side is
    * tiny by construction (real suites are MBs against TBs of corpus),
    * so it is explicitly `broadcast()`: the contamination scan costs
    * one pass over the training grams with a map-side hash probe, no
    * shuffle of the corpus at all. Output is the per-document
    * contamination evidence (how many distinct grams matched, how many
    * benchmark docs were hit), totally ordered.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminationOf(rareGramsLanded(spark, dir))

  // the df-capped rare-gram frame (doc_id, lang, is_bench, gram_h) is a
  // pure corpus function, landed once so c3 stops re-shingling the
  // corpus on every call
  private[operators] def rareGramsLanded(spark: SparkSession, dir: String): DataFrame =
    Landing.frame(spark, dir, "c3", "rare-gram frame") {
      val (rare, cached) = rareGramsFrame(spark, dir, persist = true)
      CacheOps.materializeAndRelease(rare, cached.toSeq: _*)
    }

  /** The gram generation: shingle posting list + corpus-wide df cap.
    * `persist = true` shares the gram frame between the cap aggregate
    * and the probe sides. */
  private def rareGramsFrame(spark: SparkSession, dir: String,
      persist: Boolean): (DataFrame, Option[DataFrame]) = {
    // repartition before shingling for the same reason as d2: the
    // fixture parquet is one split and shingling must parallelize
    val gramsRaw = graft.Tables.documents(spark, dir)
      .withColumn("is_bench", isBenchmarkCol(col("doc_id")))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), col("is_bench"),
        explode(Dedup.shingles(col("text"))).as("gram"))
      .select(col("doc_id"), col("lang"), col("is_bench"),
        Dedup.md5Long(col("gram")).as("gram_h"))
    // grams feeds the df-cap aggregate AND both probe sides; persisted
    // because a count(*) over (partition by gram_h) cut in its place
    // measured slower at sf0.1 (wall 0.76 → 0.92 s medians; CHANGES.md)
    val grams = if (persist) CacheOps.shared(gramsRaw) else gramsRaw
    val hot = grams.groupBy(col("gram_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.dfCapForTable(spark, dir))
      .select(col("gram_h"))
    (grams.join(broadcast(hot), Seq("gram_h"), "left_anti"),
      if (persist) Some(grams) else None)
  }

  /** The contamination probe over the rare-gram frame: TRAIN grams
    * against BROADCAST benchmark grams (tiny by construction — real
    * suites are MBs against TBs of corpus), one map-side hash probe,
    * no corpus shuffle. */
  private def decontaminationOf(rare: DataFrame): DataFrame = {
    val benchGrams = rare.filter(col("is_bench"))
      .select(col("gram_h"), col("doc_id").as("bench_id"))
    rare.filter(!col("is_bench"))
      .join(broadcast(benchGrams), Seq("gram_h"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(countDistinct(col("gram_h")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  /** Plan builder for c3 — `persist = false` yields the raw plan tree
    * (PlanSpec asserts broadcast shapes on it; the landing's
    * localCheckpoint in the public wrapper would otherwise hide the
    * plan behind an RDD scan). */
  private[graft] def decontaminationFrame(spark: SparkSession, dir: String,
      persist: Boolean): (DataFrame, Option[DataFrame]) = {
    val (rare, cached) = rareGramsFrame(spark, dir, persist)
    (decontaminationOf(rare), cached)
  }

  // ---------------------------------------------------------------- c4

  /** Per-language sampling denominators (keep 1-in-N). Powers of two on
    * purpose: the md5 bucket is uniform over 2^16, so any power-of-two
    * modulus gives an EXACT rate with zero bias. Head language keeps
    * 1-in-2; tail languages 1-in-4 (a real mixture config flattens the
    * head — the constants are config, the mechanism is the operator). */
  val SampleDenoms: Seq[(String, Int)] =
    Seq("en" -> 2, "de" -> 4, "es" -> 4, "fr" -> 4, "zh" -> 4)
  val SampleDenomDefault = 8

  /** c4: deterministic stratified sampling — keep a per-stratum
    * fraction of documents, membership a pure hash of doc_id (salt
    * 'sample:'). Unlike `TABLESAMPLE`/`df.sample`, re-running over an
    * appended corpus never changes an old document's fate, so
    * downstream caches and dedup state stay valid across refreshes —
    * the same stability argument as c1's split.
    *
    * Scale shape: map-only (one hash + one when-chain per row, all
    * codegen'd); sampling happens BEFORE any shuffle so every
    * downstream stage sees only the kept fraction. The final sort is
    * presentation-only. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val denom: Column = SampleDenoms.foldLeft(lit(SampleDenomDefault)) {
      case (acc, (l, n)) => when(col("lang") === l, lit(n)).otherwise(acc)
    }
    graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("int"))
      .filter(pmod(col("bucket"), denom) === 0)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** c4b: QUALITY-WEIGHTED deterministic sampling — keep each document
    * with probability proportional to its quality score (the
    * importance-sampling step that shapes a corpus toward its
    * high-quality tail without a hard cutoff; c4's stratified form
    * downsamples per language at fixed rates, this one downsamples per
    * DOCUMENT at its own rate).
    *
    * Keep rule: u(doc) < quality_ppm / 10⁶, with u a 32-bit md5-derived
    * uniform — evaluated in EXACT integer arithmetic
    * (u32 · 10⁶ < quality_ppm · 2³²; both under 2⁵³, no float edge to
    * disagree across engines). Membership is a pure function of doc_id,
    * so re-runs and corpus appends never flip an old decision — the
    * same append-stability contract as c4/c6 — and the sample is
    * reproducible from the manifest alone.
    *
    * Scale shape: map-only (tokenize + md5 + one integer compare in the
    * scan stage); the gate's rollup is one |langs|-group partial agg.
    * At 100 TB the sample IS the scan — no shuffle, no state. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(TextOps.Stopwords.map(lit): _*)))
    graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", nTok)
      .withColumn("quality_ppm",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(floor(
            (least(col("n_tokens"), lit(100)) / lit(100.0) * 0.5
              + nStop / col("n_tokens").cast("double") * 0.5) * lit(1000000.0))))
      .withColumn("u32",
        conv(substring(md5(concat(lit("wsamp:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("bigint"))
      .filter(col("u32") * lit(1000000L) < col("quality_ppm") * lit(4294967296L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- c5

  /** Per-language epoch counts — upsample tail languages (the mixture
    * step that turns raw corpus proportions into the target training
    * mixture; pairs with c4, which downsamples the head). */
  val MixtureEpochs: Seq[(String, Int)] =
    Seq("en" -> 1, "de" -> 2, "es" -> 2, "fr" -> 2, "zh" -> 3)

  /** c5: domain-mixture epoch expansion — emit one (doc, epoch) row per
    * scheduled repetition, plus the deterministic shuffle key training
    * consumes (global order = hash of doc and epoch, so repeated epochs
    * of one document land far apart in the token stream — epoch
    * spacing — without any global sort by random()).
    *
    * Scale shape: map-side explode of a ≤MaxEpochs literal sequence (no
    * shuffle, no join); the shuffle key is one md5 per emitted row. A
    * training reader orders by (shuffle_key) via its sink's range
    * partitioner; here the output is ordered by (doc_id, epoch) for the
    * oracle and the key is a checked column. */
  def mixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val epochs: Column = MixtureEpochs.foldLeft(lit(1)) {
      case (acc, (l, n)) => when(col("lang") === l, lit(n)).otherwise(acc)
    }
    graft.Tables.documents(spark, dir)
      .withColumn("epoch", explode(sequence(lit(1), epochs)))
      .withColumn("shuffle_key", Dedup.md5Long(
        concat(lit("mix:"), col("doc_id").cast("string"), lit(":"), col("epoch").cast("string"))))
      .select(col("doc_id"), col("lang"), col("epoch"), col("shuffle_key"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  // ---------------------------------------------------------------- c6

  /** Shard count the fixture manifest covers; a production run sets
    * thousands (one shard ≈ one dataloader file group). */
  val ManifestShards = 16

  /** c6: training-shard MANIFEST — the dataloader handoff after
    * curation/packing. Every document is assigned a shard by a salted
    * md5 hash (deterministic and append-stable — re-running the
    * pipeline, or adding documents, never moves an existing doc to a
    * different shard) and the manifest rolls each shard up to what a
    * loader plans with: document count, token budget, and the shard's
    * FIRST document under the hash order (c5's shuffle-key order —
    * pinning it in the hash-checked output proves the within-shard
    * ordering contract, not just the membership).
    *
    * Scale shape: assignment is map-only arithmetic on the scan; the
    * rollup is ONE partially-aggregated exchange of |shards| groups.
    * No window, no join — at 100 TB the manifest costs a scan. Skew is
    * structurally absent: shards are hash-balanced (CurationSpec
    * asserts the balance on the fixture), unlike key-derived grouping.
    * The first-doc column is min(struct(skey, doc_id)) — the same
    * argmax-without-a-window idiom as w2/t6. */
  def shardManifest(spark: SparkSession, dir: String,
      nShards: Int = ManifestShards): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .withColumn("skey", Dedup.md5Long(
        concat(lit("shard:"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("skey"), lit(nShards.toLong)))
    docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(struct(col("skey"), col("doc_id"))).getField("doc_id").as("first_doc"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------- c7

  /** Documents kept per source by the c7 cap (fixture: 25 docs/source,
    * so 15 trims 10 per source and every source exercises the over-cap
    * path). */
  val SourceCap = 15

  /** Salt fan-out FLOOR for the two-phase top-K (see sourceCaps), and
    * the per-(source, salt) cell size the derived fan-out targets. The
    * fan-out is corpus-DERIVED (round-9: the df-cap/pack-shard
    * treatment applied to the last constant parallelism knob): a
    * mega-domain's phase-1 cells hold ≤ ~SaltCellDocs docs regardless
    * of how hot the source is, so the per-task sort working set stays
    * bounded as a domain grows — a constant fan-out would let one
    * 10⁹-doc crawl host serialize through 4 tasks. Derivation costs
    * ONE bounded driver scalar (max per-source count, read from the
    * already-cached |sources|-row counts frame). Salting is exact at
    * ANY fan-out (phase 2 re-ranks the ≤ cap×salts survivors), so the
    * derivation changes parallelism, never results — CurationSpec
    * asserts salt-invariance explicitly. */
  val CapSalts = 4
  val SaltCellDocs = 5000L

  /** Hottest-source size → salt fan-out (shared arithmetic; specs). */
  def derivedCapSalts(maxPerSource: Long): Int =
    math.max(CapSalts.toLong,
      (maxPerSource + SaltCellDocs - 1) / SaltCellDocs).toInt

  /** c7: per-source document caps — the domain-mixing control a corpus
    * build applies so no single crawl domain dominates the training mix
    * (the same per-source discipline as the reference's one-batch-per-
    * committee ETL loops, scripts/load_donations.py-style, promoted to
    * a corpus policy). Keeps the top `cap` documents per source under
    * the deterministic priority (quality_ppm DESC, doc_id ASC) —
    * quality_ppm is t2's hash-checked scoring expression, so the cap's
    * priority is itself oracle-pinned.
    *
    * Scale shape — the naive form is ONE window over the whole corpus
    * partitioned by source: a full 100 TB sort-shuffle, and a
    * mega-domain (a third of a web crawl can be one host) lands in ONE
    * task. This implementation is exact but never sorts the corpus:
    *
    *   1. count docs per source (map-side partial agg → |sources| rows)
    *      and keep only OVER-CAP sources;
    *   2. under-cap sources pass through MAP-ONLY (broadcast anti probe
    *      against the tiny over-cap list);
    *   3. over-cap documents run a SALTED two-phase top-K: rank within
    *      (source, salt) and keep ≤cap per salt — the per-task working
    *      set is ~1/salts of the hot source, with the fan-out DERIVED
    *      from the hottest source's size — then re-rank the
    *      ≤ cap×salts survivors per source for the exact global
    *      top-cap (union of per-salt top-K is a superset of global
    *      top-K, so phase 2 is exact).
    *
    *    On real corpora the over-cap set is a handful of mega-domains,
    *    so the expensive path touches a small fraction of rows and its
    *    skew is split across the DERIVED salt fan-out (one salt per
    *    ~SaltCellDocs docs of the hottest source, [[derivedCapSalts]];
    *    AQE's skew splitting covers the rest).
    *
    * Output: per-source rollup — kept/dropped counts, the min kept
    * quality (the admission bar the cap induced), and sum(doc_id) over
    * the kept set, which pins exact MEMBERSHIP in the hash compare,
    * not just cardinality. */
  def sourceCaps(spark: SparkSession, dir: String,
      cap: Int = SourceCap, salts: Int = 0): DataFrame = {
    val (out, counts) = sourceCapsFrames(spark, dir, cap, salts)
    CacheOps.materializeAndRelease(out, counts)
  }

  /** The un-materialized (result, cached counts) pair — PlanSpec
    * asserts the physical shape on the result before checkpointing
    * erases it; callers must release `counts`. `salts = 0` (the
    * default) derives the fan-out from the hottest source via
    * [[derivedCapSalts]]. */
  private[graft] def sourceCapsFrames(spark: SparkSession, dir: String,
      cap: Int = SourceCap, salts: Int = 0): (DataFrame, DataFrame) = {
    val scored = graft.Tables.documents(spark, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .withColumn("n_stop", size(filter(TextOps.tokens(col("text")),
        t => t.isin(TextOps.Stopwords.map(lit): _*))))
      .withColumn("quality_ppm",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(floor(
            (least(col("n_tokens"), lit(100)) / lit(100.0) * 0.5
              + col("n_stop") / col("n_tokens").cast("double") * 0.5) * lit(1000000.0))))
      .select(col("doc_id"), col("source"), col("quality_ppm"))

    // |sources| rows, consumed by THREE branches (over-cap probe ×2 and
    // the final rollup join) — billed once via the cache discipline so
    // the corpus' source column is not re-scanned per branch
    val counts = CacheOps.shared(
      scored.groupBy(col("source")).agg(count(lit(1)).as("n_src")))
    val overCap = counts.filter(col("n_src") > cap).select(col("source"))
    // derived fan-out: ONE bounded driver scalar off the cached
    // |sources|-row counts frame (the I3/df-cap bounded-scalar class)
    val nSalts =
      if (salts > 0) salts
      else {
        val row = counts.agg(max(col("n_src"))).collect()(0)
        derivedCapSalts(if (row.isNullAt(0)) 0L else row.getLong(0))
      }

    // map-only pass-through for sources that never hit the cap: anti
    // probe against the broadcast over-cap list (tiny: one row per
    // mega-domain)
    val underDocs = scored.join(broadcast(overCap), Seq("source"), "left_anti")
    val overDocs = scored.join(broadcast(overCap), Seq("source"), "left_semi")

    // phase 1: per-(source, salt) local top-cap. Salt is derived from
    // doc_id (deterministic), so re-runs rank identically.
    val priority = Seq(col("quality_ppm").desc, col("doc_id").asc)
    val local = overDocs
      .withColumn("salt", pmod(col("doc_id"), lit(nSalts.toLong)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("salt")).orderBy(priority: _*)))
      .filter(col("rn") <= cap)
    // phase 2: exact global top-cap over the ≤ cap×salts survivors
    val kept = local
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("source")).orderBy(priority: _*)))
      .filter(col("rn2") <= cap)
      .select(col("doc_id"), col("source"), col("quality_ppm"))
      .unionByName(underDocs)

    val out = kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("quality_ppm")).as("min_kept_ppm"),
        sum(col("doc_id")).as("kept_id_sum"))
      .join(counts, Seq("source"))
      .select(col("source"), col("n_kept"),
        (col("n_src") - col("n_kept")).as("n_dropped"),
        col("min_kept_ppm"), col("kept_id_sum"))
      .orderBy(col("source"))
    (out, counts)
  }

  /** DSIR feature-space width: hashed bigrams land in this many
    * buckets. Xie et al. use 10⁴; 256 keeps the bucket LM table
    * broadcastable-trivially at ANY corpus size (it is CONSTANT-size,
    * the property that makes DSIR corpus-scale: the corpus is touched
    * twice — once to count, once to score — and both passes are
    * map-side against a 256-row broadcast). */
  val DsirBuckets = 256

  /** The DSIR target domain: the curated sources whose distribution
    * the selection steers toward (the paper's Wikipedia/books seam —
    * here the deterministic source-name analog). */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** c8: data selection via importance resampling (DSIR, Xie et al.
    * 2023) — score every raw document by how much more likely its
    * hashed-bigram features are under the TARGET domain's bag-of-
    * features LM than under the RAW corpus LM, then keep the docs the
    * target distribution up-weights.
    *
    *   w(x) = Σ_b c_b(x)·(log p̂_T(b) − log p̂_R(b)),
    *   p̂(b) = (cnt_b + 1) / (total + B)   (add-1 smoothing)
    *
    * Engine-portability is the t7 discipline: true `log` is libm-
    * dependent, so both LMs are quantized to integer floor-log2
    * (`length(bin(cnt+1)) − 1`) and the per-doc weight becomes exact
    * integer arithmetic — Σ qdiff(b) over the doc's grams minus
    * n_grams × the (floor-log2) normalizer gap. Quantization preserves
    * what selection needs: docs whose features are target-heavy score
    * high. `selected = weight ≥ 0` is the likelihood-ratio ≥ 1 gate.
    *
    * Plan shape: grams hash→bucket in the scan stage; ONE partial-agged
    * count per LM (the target count filters the same frame — no second
    * scan); the 256-row bucket table broadcasts into the per-gram frame
    * (map-side); one groupBy(doc_id) sum. No window, no self-join, no
    * whole-corpus sort. */
  def dsirSelection(spark: SparkSession, dir: String): DataFrame =
    dsirOf(graft.Tables.documents(spark, dir))

  private[graft] def dsirOf(input: DataFrame): DataFrame =
    dsirFrame(input, persist = true)

  private[graft] def dsirFrame(input: DataFrame, persist: Boolean): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val n = size(toks)
    val grams2 = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    // floor-log2 of a POSITIVE integer column, engine-exact both sides
    def flog2(c: Column): Column = length(bin(c)) - lit(1)

    val docs0 = input
      .repartition(col("doc_id")) // before hashing — see Dedup.ngramJaccardPairs
      .select(col("doc_id"), col("source"), col("lang"), grams2.as("grams"))
    val docs = if (persist) CacheOps.shared(docs0) else docs0
    val isTarget = col("source").isin(DsirTargetSources: _*)
    val feats0 = docs
      .select(col("doc_id"), isTarget.as("is_t"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), col("is_t"),
        pmod(Dedup.md5Long(col("gram")), lit(DsirBuckets.toLong)).as("b"))
    val feats = if (persist) CacheOps.shared(feats0) else feats0

    // both LMs from ONE pass: raw = every occurrence, target = the flagged ones
    val lm = feats.groupBy(col("b"))
      .agg(count(lit(1)).as("r_cnt"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("t_cnt"))
      .select(col("b"),
        (flog2(col("t_cnt") + 1) - flog2(col("r_cnt") + 1)).as("qdiff"))
    // normalizer gap: floor-log2(T_T + B) − floor-log2(T_R + B), one row
    val norm = feats.agg(
      (flog2(sum(when(col("is_t"), 1L).otherwise(0L)) + lit(DsirBuckets)) -
        flog2(count(lit(1)) + lit(DsirBuckets))).as("cnorm"))

    val perDoc = feats
      .join(broadcast(lm), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("qdiff")).as("qsum"))
    val result = docs.select(col("doc_id"), col("source"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(norm))
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        (coalesce(col("qsum"), lit(0L)) -
          coalesce(col("n_grams"), lit(0L)) * col("cnorm")).cast("bigint")
          .as("dsir_weight"))
      .withColumn("selected", col("dsir_weight") >= 0)
      .orderBy(col("doc_id"))
    if (persist) CacheOps.materializeAndRelease(result, docs, feats)
    else result
  }

  /** C9: cluster-balanced (diversity) selection — cap the corpus at
    * `cap` documents per SEMANTIC cluster, keeping each cluster's
    * highest-quality members. c7 caps by a metadata column (source);
    * this is its embedding-space dual — the over-represented thing is
    * a topic, not a feed — and the standard diversity pass after
    * SemDeDup-style near-dup removal (d9 drops near-identical pairs;
    * c9 bounds what even DISTINCT documents on one topic may
    * contribute). Composition of three oracle-checked tiers with zero
    * new primitives: cell membership via the ONE shared IVF argmax
    * ([[Similarity.cellAssignments]] — broadcast centroids, scan-stage
    * scoring), per-doc quality via t2's integer-ppm score, then a
    * per-cell (quality DESC, doc_id) rank capped at `cap`. The rank
    * filter rides WindowGroupLimit (plan-asserted): each map task
    * truncates to `cap` per cell BEFORE the exchange, so the per-cell
    * reduce receives ≤ tasks×cap rows — no corpus-sized window state
    * even with only [[Similarity.IvfCentroids]] cells. Docs without an
    * embedding are out of scope by the inner join (membership defines
    * the selection universe, the m3 pairing rule). */
  def clusterCaps(spark: SparkSession, dir: String, cap: Int = 25): DataFrame = {
    val cells = Similarity.cellAssignments(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cent_id"))
    val quality = TextOps.qualityScores(spark, dir)
      .select(col("doc_id"), col("quality_ppm"))
    val w = Window.partitionBy(col("cent_id"))
      .orderBy(desc("quality_ppm"), col("doc_id"))
    quality.join(cells, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("cent_id"), col("doc_id"), col("quality_ppm"),
        col("rn").cast("int").as("rn"))
      .orderBy(col("cent_id"), col("doc_id"))
  }

  /** C10: split-leakage audit — the contamination check c1's
    * clustered form exists to PREVENT, run as a monitor: count
    * near-duplicate pairs whose endpoints land in different splits
    * (an eval doc with a train near-twin leaks the answer key into
    * training). The naive split (c1's per-doc hash, applied here)
    * strands such pairs across the boundary by construction whenever
    * a dup cluster spans hash buckets; this query measures exactly
    * that exposure, per split-pair class, with id_sum pinning the
    * membership. A clean c1b-style cluster-aware split drives the
    * eval-train row to zero — c10 is the metric that proves it.
    *
    * Scale shape: split is a PURE FUNCTION of the doc id (no lookup
    * join — the md5 bucket recomputes anywhere), so the audit is one
    * map-side projection over the landed pair frame plus a ≤3-row
    * partial-agged rollup. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    pairs
      .select(col("a_id"), col("b_id"),
        splitCol(col("a_id")).as("sa"), splitCol(col("b_id")).as("sb"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"),
        (col("a_id") + col("b_id")).as("idsum"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("idsum")).as("id_sum"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** C11: overlap-aware mixture weights — d11's cross-source overlap
    * matrix consumed the way a mixture designer actually uses it:
    * sources whose vocabulary is largely covered by another source
    * carry less UNIQUE mass, so their sampling weight shrinks. The
    * unique-mass lower bound per source is n_s − max_t ov(s,t)
    * (subtracting only the single largest overlap never double-counts
    * a shared gram, so the bound is sound without inclusion-exclusion
    * over all pairs), and weights are its share of the total in
    * integer ppm — floor division, hashable cross-engine (the c5
    * mixture tier consumes weights in exactly this form).
    *
    * Scale shape: everything derives from the d11 pair frame (K²/2
    * rows for K sources — broadcast-scale), plus one 1-row total
    * crossJoined in (the a9 percentage-of-total pattern). The gate
    * computes overlap from the exact anchors so the whole chain
    * hash-checks; the production path feeds the sketch ESTIMATES
    * through the same rollup, which is the point of d11's design. */
  def overlapWeights(spark: SparkSession, dir: String): DataFrame =
    overlapWeightsOf(Dedup.sourceOverlapLanded(spark, dir),
      Dedup.sourceSketchesLanded(spark, dir).select(col("source"), col("n_grams")))

  /** `perSource` (source, n_grams) is the AUTHORITATIVE source list —
    * drawn from the per-source side (the landed sketch frame), which
    * exists even when the pair frame is empty (a single-source corpus
    * has no pairs but still deserves weight 1000000 ppm, which is
    * what the c11 oracle's per-source CTE yields at K=1). Degenerate
    * totals are guarded rather than divided into null: if every
    * source's unique mass is 0 (each fully covered by another — a
    * mirrored-corpus fixture), weights fall back to n_grams-
    * proportional, and if even total gram mass is 0, to equal. */
  private[graft] def overlapWeightsOf(overlap: DataFrame,
      perSource: DataFrame): DataFrame = {
    val sides = overlap
      .select(col("source_a").as("source"), col("ov_exact"))
      .unionByName(overlap.select(col("source_b").as("source"), col("ov_exact")))
    val maxOv = sides.groupBy(col("source"))
      .agg(max(col("ov_exact")).as("max_overlap"))
    val per = perSource.join(maxOv, Seq("source"), "left")
      .withColumn("max_overlap", coalesce(col("max_overlap"), lit(0L)))
      .withColumn("unique_mass", col("n_grams") - col("max_overlap"))
    val total = per.agg(sum(col("unique_mass")).as("t_unique"),
      sum(col("n_grams")).as("t_grams"), count(lit(1)).as("k"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_grams"), col("max_overlap"),
        when(col("t_unique") > 0, expr("(unique_mass * 1000000L) div t_unique"))
          .when(col("t_grams") > 0, expr("(n_grams * 1000000L) div t_grams"))
          .otherwise(expr("1000000L div k")).as("weight_ppm"))
      .orderBy(col("source"))
  }

  /** ST10 gate form: CURATION AT INGEST — c1's composition (quality
    * gate → exact dedup → near-dup drop → (lang, split) rollup) run as
    * a stream ([[graft.streaming.CurationStream.curateIngest]]), with
    * the near-dup tier on MinHash-LSH pairs — the swap [[curate]]'s
    * scaladoc names for 100 TB, and the only pair tier computable at
    * arrival time (d2's df cap is a corpus-global property). Arrival
    * order is pinned to doc_id order (the st8 fixture), so the
    * streamed drop-the-arrival rule equals the batch drop-the-greater-
    * id rule and the rollup is oracle-checked against the single-
    * statement SQL composition. */
  def streamedCurate(spark: SparkSession, dir: String): DataFrame = {
    val p = Landing.scratch(spark, dir, "graft_curate_st", "documents.parquet") { p =>
      val incoming = Dedup.landSplitArrivals(spark,
        graft.Tables.documents(spark, dir), p)
      val q = graft.streaming.CurationStream.curateIngest(
        spark, incoming, p, s"${p}_checkpoint")
      try q.processAllAvailable() finally q.stop()
    }
    Dedup.readOrEmpty(spark, s"$p/curated",
        "doc_id BIGINT, text STRING, lang STRING, n_tokens BIGINT, digest STRING")
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"), col("split"))
  }
}
