package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale probe for the dedup/ANN tiers (round-5 task: the 100 TB
  * claims — df caps, banded candidate generation, candidate-restricted
  * verify — were measured only at sf0.1's 5k docs; probe how wall time
  * grows when the corpus grows ~10×).
  *
  * Corpus construction: k salted copies of sf0.1's `documents`, with
  * every token of copy c rewritten to `<token>_c<c>` — copies share NO
  * shingles/grams, so near-dup structure (and thus candidate-pair count)
  * grows LINEARLY in k, which is the scaling regime the tiers claim.
  * Naively unioning identical copies would instead create k-clique
  * exact-dup families — a quadratic pair explosion that measures output
  * size, not plan shape. `embeddings` copies salt vec_id and label, so
  * label blocks keep their size and block COUNT grows with k.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [factors-csv]
  * Prints one JSON line per factor; results recorded in PLANS.md.
  */
object ScaleProbe {

  private val Salt = 100000000L

  /** SPARK_GRAFT_PROBE_EVENT_DENSITY=1 flips the events regime from
    * "users grow k×" to "per-user in-band DENSITY grows k×" (same
    * users, k copies of every event offset by c microseconds): the
    * adversarial regime for the as-of family, where band-as-residual
    * pairs grow k² while the j11c merge stays linear. */
  private def denseEvents: Boolean =
    sys.env.get("SPARK_GRAFT_PROBE_EVENT_DENSITY").contains("1")

  /** SPARK_GRAFT_PROBE_ZIPF_BP=1 plants Zipf-popular BOILERPLATE in the
    * scaled documents (round-15 task #3: pin d2b's Σdf² tail). Each doc
    * appends a 10-token sentence owned by its boilerplate GROUP; group
    * popularity is log-uniform (Zipf(1)-shaped): a doc draws u ∈ [0,1)
    * from its id hash and joins group ⌊(G+1)^u⌋−1, so group j holds
    * ~n·ln((j+2)/(j+1))/ln(G+1) docs — a few giant groups (df ≫ the d2
    * cap → excluded, the cap path) and a long tail straddling the cap
    * (df ∈ [2, cap] → every pair inside them is a REAL candidate). This
    * is the hot-gram regime the salted-copy fixture structurally cannot
    * produce (copies share no grams, so df never concentrates). */
  private def zipfBoilerplate: Boolean =
    sys.env.get("SPARK_GRAFT_PROBE_ZIPF_BP").contains("1")
  private val ZipfGroups = 4096

  /** SPARK_GRAFT_PROBE_TABLES (csv) restricts which tables the scaled
    * corpus materializes — the 1000× ingest ladder needs only
    * `documents`, and scaling events/embeddings 1000× onto tmpfs would
    * cost GBs and minutes for tables the probe never reads. */
  private def tablesWanted: String => Boolean = {
    val only = sys.env.get("SPARK_GRAFT_PROBE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    t => only.forall(_.contains(t))
  }

  def buildCorpus(spark: SparkSession, baseDir: String, k: Int, outRoot: String): String = {
    if (k == 1 && !zipfBoilerplate) return baseDir
    val out = s"$outRoot/probe_${k}x" + (if (denseEvents) "_dense" else "") +
      (if (zipfBoilerplate) "_zipf" else "")
    val want = tablesWanted
    val docs = Tables.documents(spark, baseDir)
    // k copies: a crossJoin against range(k) — ONE plan whatever k is
    // (the per-copy reduce(unionByName) build analyzed k subtrees,
    // minutes of driver time at the 1000× ladder factor)
    val copies = spark.range(k.toLong).select(col("id").cast("int").as("__c"))
    val scaledDocs0 = docs.crossJoin(copies).select(
      (col("doc_id") + col("__c").cast("long") * Salt).as("doc_id"),
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1_c"), col("__c").cast("string"))).as("text"),
      col("lang"), col("source"))
    val scaledDocs =
      if (!zipfBoilerplate) scaledDocs0
      else {
        // group = ⌊(G+1)^u⌋−1 with u ∈ [0,1) hashed off the doc id —
        // log-uniform group sizes (see zipfBoilerplate scaladoc)
        val u = (pmod(xxhash64(col("doc_id")), lit(1000000L)).cast("double")
          / lit(1000000.0))
        val grp = floor(pow(lit((ZipfGroups + 1).toDouble), u)).cast("long") - 1
        val bp = concat_ws(" ", (0 until 10).map(i =>
          concat(lit(s"bpz${i}g"), grp.cast("string"))): _*)
        scaledDocs0.withColumn("text", concat(col("text"), lit(" "), bp))
      }
    if (want("documents"))
      scaledDocs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs = Tables.embeddings(spark, baseDir)
    val scaledEmbs = embs.crossJoin(copies).select(
      (col("vec_id") + col("__c").cast("long") * Salt).as("vec_id"),
      col("embedding"),
      concat(col("label"), lit("_c"), col("__c").cast("string")).as("label"))
    if (want("embeddings"))
      scaledEmbs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // j7's incremental-linkage shape: the CANDIDATE file (suppliers,
    // the FEC side) grows k×; the entity master (customers) stays 1×.
    // Salted suppkeys, names unchanged — every copy links to the same
    // argmax customer, so blocked-pair count and output grow LINEARLY
    // in k, the regime the prefilter + blocking design claims. (Joint
    // k× growth of BOTH sides is quadratic by design — the reference's
    // fixed state-blocking trade; the mitigation at that point is a
    // second blocking key, not a faster scorer.)
    val supp = Tables.supplier(spark, baseDir)
    val scaledSupp = supp.crossJoin(copies).select(
      (col("s_suppkey") + col("__c").cast("long") * Salt).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal"))
    if (want("supplier"))
      scaledSupp.write.mode("overwrite").parquet(s"$out/supplier.parquet")
    if (want("customer"))
      Tables.customer(spark, baseDir).write.mode("overwrite")
        .parquet(s"$out/customer.parquet")
    // j11's regime: USERS grow k× (salted user_id), per-user event
    // density constant — the band join's claimed linear scaling. Read
    // RAW so ts stays a nanos long (Tables.events on the probe dir
    // re-applies the div-1000 truncation to the long column).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.parquet(spark, s"$baseDir/events.parquet")
    // ts ships as nanos-as-long (older testdata) or native timestamp[us]
    // (current) — offset copies by c microseconds in either encoding.
    val tsIsLong = ev.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsPlusMicros =
      if (tsIsLong) (col("ts") + col("__c").cast("long") * lit(1000L)).as("ts")
      else expr("timestampadd(MICROSECOND, __c, ts)").as("ts")
    val scaledEv =
      if (denseEvents)
        // same users, k× events each: copies offset by c MICROSECONDS
        // stay inside the same horizon windows, so in-band density —
        // and residual pair count — truly multiplies
        ev.crossJoin(copies).select(
          (col("event_id") + col("__c").cast("long") * Salt).as("event_id"),
          tsPlusMicros,
          col("user_id"), col("event_type"), col("value"), col("props"))
      else
        ev.crossJoin(copies).select(
          (col("event_id") + col("__c").cast("long") * Salt).as("event_id"), col("ts"),
          (col("user_id") + col("__c").cast("long") * Salt).as("user_id"),
          col("event_type"), col("value"), col("props"))
    if (want("events"))
      scaledEv.write.mode("overwrite").parquet(s"$out/events.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factors = (if (args.length > 1) args(1) else "1,3,10").split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = Tables.localSession(Tables.graftCpus)
    val outRoot = Probe.outRoot("probe")
    def quantizedPathFor(d: String): String =
      s"$outRoot/q8_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
    def bm25PathFor(d: String): String =
      s"$outRoot/bm25_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
    // fresh-id generation for the t11f maintenance-cycle probe: each
    // rep's batch must be NEW to the ledger or the append no-ops
    val compactEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "d2_ngram_jaccard"     -> (operators.Dedup.ngramJaccardPairs(_, _)),
      // round-12: the prefix-filtered twin — same pairs, candidate
      // volume cut ~(p/n)² ≈ 20× before any aggregate. The fixture
      // measured the posting join FASTER at sf0.1 (barriers dominate at
      // 5k docs); this probe is where the crossover claim is tested:
      // d2's wall grows with Σdf² through the pair aggregate, d2b's
      // with the prefix-cut candidate stream.
      "d2b_prefix_jaccard"   -> (operators.Dedup.prefixJaccardPairs(_, _)),
      "d3_minhash_lsh"       -> (operators.Dedup.minhashLshPairs(_, _)),
      // d11's two paths: the gate form carries the exact anchor (a
      // corpus-shaped gram join, verification only) while production
      // reads the K sketches alone — the sketch path's wall must stay
      // one-corpus-pass-shaped while the anchored form's grows with
      // the pair join (the salted corpus multiplies sources k×, so
      // pairs grow k² while the gram pass grows k)
      "d11_with_anchor"      -> (operators.Dedup.sourceOverlap(_, _)),
      "d11_sketch_only"      -> ((s, d) => {
        val (est, g) = operators.Dedup.sourceOverlapEstimates(Tables.documents(s, d))
        operators.CacheOps.materializeAndRelease(est, g)
      }),
      "d4b_simhash_pairs"    -> (operators.Dedup.simhashPairs(_, _)),
      // d6 probes the FRESH form: the gate/bench entry memoizes the pair
      // frame per corpus (pure corpus function, the c1 discipline), which
      // would turn min-over-reps into a memo hit here
      "d6_rolling_fingerprint" -> (operators.Dedup.rollingFingerprintPairsFresh(_, _)),
      "v2b_neardup_bucketed" -> (operators.Similarity.nearDupTopPairsBucketed(_, _)),
      "j7_fuzzy_link"        -> (operators.FuzzyLink.linkSuppliersToCustomers(_, _)),
      "j7b_banded_link"      -> (operators.FuzzyLink.linkSuppliersToCustomersBanded(_, _)),
      // the composed training-data tier: curation chains quality, digest
      // window, the d2 subplan, and the anti join; packing is windowed
      // sums; extraction is explode+count+window. Probing the COMPOSITES
      // checks stage coupling, not just the tiers in isolation.
      "c1_corpus_curation"   -> (operators.Curation.curate(_, _)),
      "c2_sequence_packing"  -> (operators.Curation.sequencePacking(_, _)),
      "x7_llm_extract"       -> (operators.LlmOps.extractKeywords(_, _)),
      // round-5 additions: the broadcast-probe decontamination (bench
      // side grows with the salted corpus here — worst case for the
      // broadcast claim), the Lloyd step (shuffle must stay k×dim), and
      // the banded as-of join (linear in users)
      "c3_decontamination"   -> (operators.Curation.decontaminate(_, _)),
      "v6_kmeans_step"       -> (operators.Similarity.kmeansStep(_, _)),
      "j11_asof_join"        -> (operators.AsofJoin.viewBeforePurchase(_, _)),
      // round-6 additions: the bucketed as-of join (cells must shrink to
      // rate×horizon — compare against j11's growth), and Lloyd at a
      // FIXED 3 rounds (eps = -1 disables the fixpoint stop) so
      // per-round cost is comparable across factors
      "j11b_bucketed_asof"   -> (operators.AsofJoin.viewBeforePurchaseBucketed(_, _)),
      // the custom O(n+m) physical merge: wall must track the EVENT
      // count, with no pair-enumeration term at all (vs j11/j11b)
      "j11c_merge_asof"      -> (operators.AsofJoin.viewBeforePurchaseMerged(_, _)),
      "v6b_lloyd_3rounds"    -> ((s, d) =>
        operators.Similarity.kmeansConvergedOf(Tables.embeddings(s, d), 3, -1.0)._1),
      "c1b_clustered_curation" -> (operators.Curation.curateClustered(_, _)),
      // components over the d2 edge set: rounds ≤ diameter must hold as
      // the salted corpus multiplies component COUNT (not depth)
      "d7_dedup_clusters"    -> (operators.Dedup.dedupClusters(_, _)),
      // d7c: the incremental twin — base clustering lands on rep 1
      // (memo), min-over-reps reports the warm delta apply: the
      // quotient contraction join + CC over the delta-sized quotient +
      // the compose joins. Unlike g2b's wedge enumeration there is no
      // unoriented quadratic term — the quotient's edge count IS the
      // delta edge count, so the claim is Δ-linear at every factor
      "d7c_incremental"      -> (operators.Dedup.dedupClustersIncremental(_, _)),
      // t6 is the explode+count tier (wall tracks gram count); d8's
      // bloom pass and probe must both stay linear in docs, with the
      // verify side bounded by candidates
      "t6_repetition_stats"  -> (operators.TextOps.repetitionStats(_, _)),
      "d8_incremental_dedup" -> (operators.Dedup.incrementalDedup(_, _)),
      // star contraction: log-round alternative to d7 — compare walls
      // as the salted corpus multiplies component count
      "d7b_star_clusters"    -> (operators.Dedup.dedupClustersStar(_, _)),
      // round-7 retrieval ladder: all three must stay linear in corpus
      // size. v7 here quantizes IN-PLAN (a float pass + the int scan);
      // the materialized row below is the production form
      "v1_cosine_topk"       -> (operators.Similarity.cosineTopK(_, _)),
      "v7_quantized_topk"    -> (operators.Similarity.quantizedTopK(_, _)),
      "v8_batch_topk"        -> (operators.Similarity.batchTopK(_, _)),
      // search over a PRE-materialized int8 table: built lazily into
      // scratch on the first rep (min-over-reps reports the warm
      // search) — the 100 TB claim is bytes off disk, recorded per
      // factor as emb_bytes vs q8_bytes in the output line
      "v7_search_materialized" -> ((s, d) => {
        val q8 = quantizedPathFor(d)
        if (!new java.io.File(q8).exists())
          operators.Similarity.materializeQuantized(s, d, q8)
        operators.Similarity.quantizedTopKOverTable(s, q8)
      }),
      // round-8 additions. c7: the salted corpus multiplies docs per
      // source (sources constant), the adversarial regime for the cap —
      // wall must stay linear because phase 1 ranks within (source,
      // salt) cells and WindowGroupLimit truncates to cap per cell
      // before the phase-2 exchange.
      "c7_source_caps"       -> (operators.Curation.sourceCaps(_, _)),
      // v2c: label count grows with the salted corpus (block size
      // constant), so candidate pairs grow linearly; the int8 prefilter
      // must keep the float re-rank bounded by survivors
      "v2c_neardup_quantized" -> (operators.Similarity.nearDupTopPairsQuantized(_, _)),
      // s19: the digest-only compare must track corpus size linearly —
      // the exchange carries (key, digest), never text
      "s19_release_diff"     -> (operators.SnapshotDiff.releaseDiff(_, _)),
      // a17/a18: per-user sequential analytics — linear in users
      // (default regime salts user_id k×); the dense regime instead
      // multiplies per-user history, the adversarial case for any
      // sort-based funnel (this one aggregates, so state stays
      // per-user-constant)
      "a17_funnel_stages"    -> (operators.Behavior.funnelStages(_, _)),
      "a18_retention_cohorts" -> (operators.Behavior.retentionCohorts(_, _)),
      // m3: salted labels multiply the centroid-build groups (k×dim
      // rows through the one wide exchange) while block size holds;
      // doc_id and vec_id salt identically, so the 1:1 pair join is
      // preserved across probe copies
      "m3_paired_curation"   -> (operators.Multimodal.pairedCuration(_, _)),
      // round-9 additions. d10: wall must track corpus GRAM count
      // linearly — there is no pair join to go quadratic; the salted
      // corpus multiplies within-copy duplicated spans k× (copies
      // share no grams), the exact claimed regime. t7: the LM join is
      // hash-to-hash fanout 1 and the vocabulary (distinct bigrams)
      // grows k× under salting — wall must track occurrences, with
      // the per-lang window bounded by docs per lang
      "d10_duplicate_spans"  -> (operators.Dedup.duplicateSpans(_, _)),
      "t7_bigram_surprisal"  -> (operators.TextOps.bigramSurprisal(_, _)),
      // round-9 third wave. c8: the LM table is CONSTANT-size (256
      // rows) at every factor — wall must track gram occurrences
      // through the two passes with no vocabulary-shaped term (salted
      // grams multiply the vocab k× but buckets absorb it). t9 is
      // map-only — wall tracks chunk count. i6/i6b: default regime
      // grows users k× (linear claim); the dense regime multiplies
      // per-user update history — version count per user grows k×, the
      // adversarial case for the PIT join's residual fanout
      "c8_dsir_selection"    -> (operators.Curation.dsirSelection(_, _)),
      "t9_chunk_windows"     -> (operators.TextOps.chunkWindows(_, _)),
      "i6_scd2_build"        -> (operators.Scd2.scd2Build(_, _)),
      "i6b_point_in_time"    -> (operators.Scd2.pointInTime(_, _)),
      // fourth wave. m4: hashing is map-side and the band join is on
      // constant-size keys — salted copies share no band values (the
      // per-token suffix shifts every block mean), so candidates track
      // within-copy structure k×. j13: sessions and versions both grow
      // with users (default regime); the dense regime multiplies
      // per-user history — sessions MERGE (micro-offsets fall in the
      // same gap window) while versions collapse, the two mechanisms
      // that keep overlap fanout bounded. e5: the feed collapses to
      // |types×days| rows in one partial-agged pass at any volume.
      // t7b vs t7: same score chain, bucketing via sampled cutpoints —
      // the window runs over the 1/4 sample and assignment is map-side,
      // so the gap vs t7 is the whole-language sort's cost
      "t7b_sampled_buckets"  -> (operators.TextOps.bigramSurprisalSampled(_, _)),
      // the bench suite's most expensive batch verbs (SCALE.md ladder):
      // recall monitors, MMR re-rank, BPE apply, semantic dedup
      "v16b_pq_recall"       -> (operators.Similarity.pqRecallAtK(_, _)),
      "v15b_mmr_hybrid"      -> (operators.Similarity.mmrRerankHybrid(_, _)),
      "t8b_bpe_tokenize"     -> (operators.Bpe.bpeTokenize(_, _)),
      "d9_semantic_dedup"    -> (operators.Dedup.semanticDedup(_, _)),
      // d9b: the trained-centroid production form — cells stay
      // ~SemCellTarget as the corpus grows, so the within-cell pass is
      // ~linear where d9's fixed-8-cell form measured (k/8)². The cell
      // index lands once per corpus (fingerprint memo, first rep);
      // min-of-reps is the steady query, the v9c billing rule.
      "d9b_semantic_dedup_trained" -> (operators.Dedup.semanticDedupTrained(_, _)),
      "m4_phash_neardup"     -> (operators.Multimodal.phashNeardupRollup(_, _)),
      "j13_session_versions" -> (operators.Scd2.sessionVersions(_, _)),
      "e5_volume_anomaly"    -> (operators.Profile.volumeAnomaly(_, _)),
      // sixth wave. v12: the landed IVF+PQ probe — wall must track the
      // probed-cell population (nprobe/K of the corpus; cells grow k×
      // under salting since centroids stay the first 8), the ADC pass
      // reads codes only, and the refine stays constant at |shortlist|.
      // Index landing bills to rep 1; min-over-reps reports the warm
      // probe. t10: the sketch is CONSTANT 3×1024 cells at every factor
      // while the salted vocabulary grows k× — wall must track token
      // occurrences through the two passes with no vocabulary-sized
      // exchange (rarer-than-threshold salted tokens die map-side)
      "v12_ivfpq"            -> (operators.Similarity.ivfPqTopK(_, _)),
      "t10_heavy_hitters"    -> (operators.TextOps.heavyHitters(_, _)),
      // seventh wave. t11: BM25 has NO pair/posting join at all — tf is
      // array filter/size in the scan stage and the stats side is ONE
      // broadcast row at every factor, so wall must track token count
      // linearly even though the salted vocabulary grows k×. v13 adds
      // the stub-embed scan (per-doc, linear) and a fusion join over
      // two ≤k-row pages (constant)
      "t11_bm25_rank"        -> (operators.TextOps.bm25Rank(_, _)),
      "v13_hybrid_rrf"       -> (operators.Similarity.hybridRrf(_, _)),
      // d10b rides d10's linear span-detection; the excision adds one
      // doc_id-partitioned join (no exchange beyond detection's) and a
      // per-token lambda — wall must track gram count like d10
      "d10b_span_scrub"      -> (operators.Dedup.spanScrub(_, _)),
      // v14: per-token embed is scan-stage (one StubEmbed per distinct
      // token occurrence — NO vocabulary join, so the salted vocab's
      // 30× growth costs nothing extra); the fold is one partial-agged
      // groupBy(doc_id) — wall must track token occurrences
      "v14_colbert_maxsim"   -> (operators.Similarity.colbertMaxsim(_, _)),
      // t11b: search over the PRE-landed inverted index (landing bills
      // to rep 1, min-over-reps reports the warm probe) — the salted
      // corpus's query terms live in constant-count bucket dirs, so
      // probe wall must track the terms' posting sizes, NOT the
      // corpus/vocabulary (contrast with t11's two full scans)
      "t11b_search_indexed"  -> ((s, d) => {
        val idx = bm25PathFor(d)
        if (!new java.io.File(idx).exists())
          operators.TextOps.materializeBm25Index(s, d, idx)
        operators.TextOps.bm25OverIndex(s, idx, operators.TextOps.Bm25Terms, 10)
      }),
      // t11f: one maintenance CYCLE over the landed index — each rep
      // appends a constant 500-doc batch under fresh ids and then
      // compacts. The batch's vocabulary lands in a CONSTANT bucket
      // set (~26 of 64), so compact rewrites only those dirs — but
      // each holds its share of the WHOLE corpus' postings, so the
      // rewrite term grows linearly in corpus size while untouched
      // buckets are never opened (PartitionedSpec's skip guarantee).
      // Wall must stay bounded by (touched buckets' bytes + the
      // constant append), never all-bucket corpus bytes
      "t11f_compact_cycle"   -> ((s, d) => {
        val idx = bm25PathFor(d) + "_cpt"
        if (!new java.io.File(idx).exists())
          operators.TextOps.materializeBm25Index(s, d, idx)
        // shift base far above any salted copy's id space (copies live
        // at c×Salt = c×1e8, c < 30) — a collision would make the
        // append a silent ledger no-op and void the probe
        val shift = 1000000000000L * compactEpoch.incrementAndGet()
        val batch = Tables.documents(s, d)
          .orderBy(col("doc_id")).limit(500)
          .withColumn("doc_id", col("doc_id") + shift)
        operators.TextOps.bm25IndexAppend(s, idx, batch)
        val buckets = operators.TextOps.bm25IndexCompact(s, idx)
        import s.implicits._
        buckets.toDF("bucket")
      }),
      // c9: assignment is broadcast-centroids map-side (8 VecDots per
      // embedding), quality is a map-only doc scan, the cap rank
      // truncates to cap per cell per map task (WindowGroupLimit) —
      // wall must track corpus size linearly with no per-cell
      // corpus-shaped window state even though cells stay constant
      "c9_cluster_caps"      -> (operators.Curation.clusterCaps(_, _)),
      // t11d: the facet rollups aggregate the MATCHING set (partial-
      // agged), never the corpus; wall tracks the two scans like t11
      "t11d_faceted_search"  -> (operators.TextOps.bm25Faceted(_, _)),
      // v13b: embed scan (linear) + the landed lexical probe
      // (posting-sized) + two ≤k-row fusion frames
      "v13b_hybrid_indexed"  -> (operators.Similarity.hybridRrfIndexed(_, _)),
      // round-10. t12b: phrase over the PRE-landed positional index
      // (landing bills to rep 1). The salted corpus rewrites every
      // token, so the probe phrase comes from the corpus itself (the
      // min-id doc's first two tokens — a copy-0 bigram): its posting
      // sizes are CONSTANT across factors, so a flat wall is exactly
      // the "probe IO tracks the phrase terms' postings, never the
      // corpus" claim under a 30× corpus
      "t12b_phrase_indexed"  -> ((s, d) => {
        val idx = bm25PathFor(d) + "_pos"
        if (!new java.io.File(idx).exists())
          operators.TextOps.materializePhraseIndexOf(Tables.documents(s, d), idx)
        val probePhrase = Tables.documents(s, d).orderBy(col("doc_id"))
          .limit(1).select(col("text")).head().getString(0)
          .trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").take(2).toSeq
        operators.TextOps.phraseOverIndex(s, idx, probePhrase, 10)
      }),
      // g1: rank rounds over the landed pair frame (pair generation
      // memoizes per dir — the d7 convention: rep 1 pays it, min-over-
      // reps reports the warm rank iterations). Edges grow linearly
      // under salting (copies share no grams), so the per-round
      // edge⋈rank + dst-sum must track edge count
      "g1_pagerank"          -> (operators.Graph.pagerank(_, _)),
      // g2: oriented wedge join over the same landed pair frame —
      // edge-linear under salting; the orientation's O(√E) out-degree
      // bound is what must keep the wedge count from curving up
      "g2_triangles"         -> (operators.Graph.triangles(_, _)),
      // g3: fixed-round degree peel on the graph kernel — every round
      // sends over every edge, so its cost is edge-linear under
      // salting like g1/g2
      "g3_kcore"             -> (operators.Graph.kcore(_, _)),
      // g2b: the incremental twin — base state lands on rep 1 (memo),
      // min-over-reps reports the warm DELTA apply: wedges at the
      // ~1/7 arriving nodes + the closure semi join + the merge. The
      // delta grows with the salted corpus (every copy carries its
      // share of %7 nodes), so the claim is Δ-linear wall, strictly
      // under g2's full-join wall at every factor
      "g2b_incremental"      -> (operators.Graph.trianglesIncremental(_, _)),
      // g2c: the degree-oriented delta — Σ min(deg) over the delta's
      // EDGES replaces g2b's Σ deg² over its nodes, so the wall must
      // stay under g2's full join at the 30× point where g2b loses it
      // (the boundary g2b's own probe recorded in PLANS.md)
      "g2c_oriented"         -> (operators.Graph.trianglesIncrementalOriented(_, _)),
      // g4: the g2 wedge join + three role projections — edge-linear;
      // the orientation bound is what keeps support attribution from
      // curving up with the hottest node
      "g4_edge_support"      -> (operators.Graph.weakEdges(_, _)),
      // CDC-to-index apply-cost decomposition (t11g's 100 TB claim:
      // release cost tracks the CHANGE volume, never the corpus). The
      // change set is FIXED across factors — doc_id < 500 exists only
      // in salted copy 0, so |changes| is constant while the corpus
      // grows k× — and both entries land to a fresh UUID path per rep
      // (no memo hits). cdc_cycle − build_v1 per factor = the
      // diff+apply+probe share, which must stay FLAT as k grows.
      // v12b trainer at FIXED 3 rounds (the v6b fixed-round
      // discipline so per-round cost is comparable across factors): a
      // round is one 256-row broadcast-join assignment plus a
      // partial-agged integer mean — wall must track corpus rows
      "v12b_pq_train_3rounds" -> ((s, d) =>
        operators.Similarity.pqCodebookTrained(Tables.embeddings(s, d), 3)),
      // v9f twin (round-12 verdict task #4): the ANN CDC cycle under the
      // SAME fixed-change-set protocol as the lexical probe — changed
      // vec_ids exist only in salted copy 0, so |changes| is constant
      // while the corpus grows k×; fresh UUID paths per rep (no memo
      // hits). Claim under test, previously ARGUED from assignment
      // determinism: the vector delete leg is change-LOCAL by layout
      // (each vector lives in exactly one cell), so the apply share
      // must stay flat with no tombstone machinery. Centroid rows
      // (vec_id < IvfCentroids) never mutate — the v9e re-train rule,
      // and the probe's query vector stays stable.
      "ivf_build_v1"         -> ((s, d) => {
        val p = s"$outRoot/icdb_${java.util.UUID.randomUUID().toString.take(8)}"
        operators.Similarity.materializeIvfOf(Tables.embeddings(s, d), p)
        operators.Similarity.ivfTopKOverIndex(s, p, 0L, 10, nprobe = 2)
      }),
      "ivf_cdc_cycle"        -> ((s, d) => {
        val p = s"$outRoot/icdc_${java.util.UUID.randomUUID().toString.take(8)}"
        val v1 = Tables.embeddings(s, d)
        operators.Similarity.materializeIvfOf(v1, p)
        val changed = col("vec_id") >= operators.Similarity.IvfCentroids &&
          col("vec_id") < 500
        val v2 = v1.withColumn("embedding",
          when(changed, reverse(col("embedding"))).otherwise(col("embedding")))
        val log = operators.SnapshotDiff.changelog(v1, v2,
          Seq("vec_id"), Seq("embedding", "label")).localCheckpoint(true)
        operators.Similarity.ivfIndexDelete(s, p,
          log.filter(col("op").isin("deleted", "updated")).select(col("vec_id")))
        operators.Similarity.ivfIndexAppend(s, p,
          log.filter(col("op") =!= "deleted")
            .select(col("vec_id"), col("label"), col("embedding")))
        operators.Similarity.ivfTopKOverIndex(s, p, 0L, 10, nprobe = 2)
      }),
      "bm25_build_v1"        -> ((s, d) => {
        val p = s"$outRoot/cdcb_${java.util.UUID.randomUUID().toString.take(8)}"
        operators.TextOps.materializeBm25IndexOf(Tables.documents(s, d), p)
        // salted copies rewrite every token to <tok>_c<copy>, so the
        // probe terms carry both the raw and the copy-0 salted forms
        operators.TextOps.bm25OverIndex(s, p,
          operators.TextOps.Bm25Terms.flatMap(t => Seq(t, t + "_c0")), 10)
      }),
      // the two halves of the round-12 tombstone-liveness trade,
      // probed separately: the DELETE leg alone must be change-sized
      // (it appends three small artifacts), and the deferred RECLAIM
      // (compaction step 0) is WHERE the index-bytes-shaped work went
      // — amortized over a compaction cycle's churn, off the release
      // path. reclaim share = reclaim_cycle − delete_only.
      "bm25_delete_only"     -> ((s, d) => {
        val p = s"$outRoot/cdcd_${java.util.UUID.randomUUID().toString.take(8)}"
        operators.TextOps.materializeBm25IndexOf(Tables.documents(s, d), p)
        operators.TextOps.bm25IndexDelete(s, p,
          Tables.documents(s, d).filter(col("doc_id") < 500).select(col("doc_id")))
        operators.TextOps.bm25OverIndex(s, p,
          operators.TextOps.Bm25Terms.flatMap(t => Seq(t, t + "_c0")), 10)
      }),
      "bm25_reclaim_cycle"   -> ((s, d) => {
        val p = s"$outRoot/cdcr_${java.util.UUID.randomUUID().toString.take(8)}"
        operators.TextOps.materializeBm25IndexOf(Tables.documents(s, d), p)
        operators.TextOps.bm25IndexDelete(s, p,
          Tables.documents(s, d).filter(col("doc_id") < 500).select(col("doc_id")))
        operators.TextOps.bm25IndexCompact(s, p)
        operators.TextOps.bm25OverIndex(s, p,
          operators.TextOps.Bm25Terms.flatMap(t => Seq(t, t + "_c0")), 10)
      }),
      // st8's per-batch verb under a grown survivor table: the claim
      // is that a dedup-append's cost tracks the BATCH (anti-join
      // probe side) plus a digest-COLUMN scan of the survivor table
      // (one 32-char string per survivor — parquet projection, never
      // text bytes), so the wall may grow only with that column scan
      // as the corpus multiplies. Survivor table landed once per
      // factor (first rep); each rep appends a fresh-id 500-doc batch
      // (salted text so digests are genuinely new).
      "st8_dedup_append"     -> ((s, d) => {
        val p = s"$outRoot/dedupst_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
        if (!new java.io.File(p).exists())
          graft.streaming.DedupStream.dedupAppend(s, Tables.documents(s, d), p)
        val shift = 1000000000000L * compactEpoch.incrementAndGet()
        // batch PINNED before the verb: its construction (a corpus-
        // wide TakeOrdered) is fixture cost, not per-batch verb cost —
        // a real micro-batch arrives as one file. Same reason the
        // trailing survivor-table count is gone: it re-read the corpus
        // inside the timed window (round-14 audit).
        // ids 0-499 exist at every factor (copy 0 keeps base ids), so
        // the filter replaces a corpus-wide TakeOrdered with a stat-
        // pruned scan — batch construction stays flat in the factor
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") < 500)
          .withColumn("doc_id", col("doc_id") + shift)
          .withColumn("text", concat(col("text"), lit(s" [b$shift]")))
          .localCheckpoint(true)
        graft.streaming.DedupStream.dedupAppend(s, batch, p)
        s.range(1).toDF("ok")
      }),
      // st9's per-batch verb under a grown LSH index: batch-sized
      // signature map + a keyed (band, bucket) probe of the landed
      // bucket table + candidate-sized verify. The batch re-uses
      // copy-0 texts with a per-rep suffix, so each doc near-dups its
      // copy-0 original (~500 real pairs discovered per append —
      // honest dup pressure at every factor; salted copies share no
      // grams, so pair volume does NOT grow with the factor). The
      // claim: wall grows only with the bucket/docs column scans as
      // the index multiplies, never with a corpus re-signature.
      "st9_neardup_append"   -> ((s, d) => {
        val p = s"$outRoot/ndst_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
        if (!new java.io.File(p).exists())
          graft.streaming.NearDupStream.neardupAppend(
            s, Tables.documents(s, d).select(col("doc_id"), col("text")), p, 0.8)
        val shift = 1000000000000L * compactEpoch.incrementAndGet()
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") < 500) // stat-pruned, flat in the factor
          .select((col("doc_id") + shift).as("doc_id"),
            concat(col("text"), lit(s" [b$shift]")).as("text"))
          .localCheckpoint(true) // fixture cost out of the verb wall
        graft.streaming.NearDupStream.neardupAppend(s, batch, p, 0.8)
        s.range(1).toDF("ok")
      }),
      // st10's per-batch verb under a grown curated corpus: the full
      // front door (quality gate + digest anti-join + LSH collide +
      // verify + three ledgered appends) must stay batch-sized the
      // same way — the composition adds the digest-column probe on
      // top of st9's bucket probe, nothing corpus-shaped
      "st10_curate_append"   -> ((s, d) => {
        val p = s"$outRoot/curst_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
        if (!new java.io.File(p).exists())
          graft.streaming.CurationStream.curateAppend(
            s, Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")), p, 0.8)
        val shift = 1000000000000L * compactEpoch.incrementAndGet()
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") < 500) // stat-pruned, flat in the factor
          .select((col("doc_id") + shift).as("doc_id"),
            concat(col("text"), lit(s" [b$shift]")).as("text"), col("lang"))
          .localCheckpoint(true) // fixture cost out of the verb wall
        graft.streaming.CurationStream.curateAppend(s, batch, p, 0.8)
        s.range(1).toDF("ok")
      }),
      // st7's per-RELEASE apply under a grown landed index (round-15
      // task #4: st8/st9/st10 had committed ladders, the CDC stream did
      // not): a FIXED 500-doc update release applied to a corpus-sized
      // bm25 index — delete leg (tombstones, change-sized), append leg
      // (new generation, change-sized), then the front door's maintain
      // call (a listing no-op until churn crosses the t11f bound; the
      // occasional fired cycle is amortized reclaim and falls out of
      // min-of-reps). Index landed once per factor; release construction
      // pinned outside the timed verb (the st8 audit rule).
      "st7_cdc_release"      -> ((s, d) => {
        val p = s"$outRoot/cdc7_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
        if (!new java.io.File(p).exists())
          operators.TextOps.materializeBm25IndexOf(Tables.documents(s, d), p)
        val rev = compactEpoch.incrementAndGet()
        val release = Tables.documents(s, d)
          .filter(col("doc_id") < 500) // stat-pruned, flat in the factor
          .select(col("doc_id"),
            concat(col("text"), lit(s" [rev$rev]")).as("text"), col("lang"))
          .localCheckpoint(true) // fixture cost out of the verb wall
        operators.TextOps.bm25IndexDelete(s, p, release.select(col("doc_id")))
        operators.TextOps.bm25IndexAppend(s, p, release)
        operators.TextOps.bm25IndexMaintain(s, p)
        s.range(1).toDF("ok")
      }),
      "bm25_cdc_cycle"       -> ((s, d) => {
        val p = s"$outRoot/cdcc_${java.util.UUID.randomUUID().toString.take(8)}"
        val v1 = Tables.documents(s, d)
        operators.TextOps.materializeBm25IndexOf(v1, p)
        val v2 = v1.withColumn("text",
          when(col("doc_id") < 500, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
        val log = operators.SnapshotDiff.changelog(v1, v2,
          Seq("doc_id"), Seq("text", "lang", "source")).localCheckpoint(true)
        operators.TextOps.bm25IndexDelete(s, p,
          log.filter(col("op").isin("deleted", "updated")).select(col("doc_id")))
        operators.TextOps.bm25IndexAppend(s, p,
          log.filter(col("op") =!= "deleted")
            .select(col("doc_id"), col("text"), col("lang")))
        operators.TextOps.bm25OverIndex(s, p,
          operators.TextOps.Bm25Terms.flatMap(t => Seq(t, t + "_c0")), 10)
      }))

    // optional name filter (csv of exact names) — large factors are only
    // affordable for the tiers under study. A name the probe does not
    // run exits non-zero rather than silently timing nothing.
    val onlyQ = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = onlyQ.fold(Seq.empty[String])(f => (f -- queries.map(_._1)).toSeq.sorted)
    if (unknown.nonEmpty) {
      spark.stop()
      System.err.println("ScaleProbe: unknown SPARK_GRAFT_PROBE_QUERIES entries: " +
        unknown.mkString(", "))
      sys.exit(2)
    }
    val selected = onlyQ.fold(queries)(f => queries.filter(q => f(q._1)))

    // JVM/codegen warm-up so factor 1's first query isn't billed startup
    spark.range(1000000).selectExpr("sum(id)").collect()

    try {
      factors.foreach { k =>
        val dir = buildCorpus(spark, baseDir, k, outRoot)
        val nDocs = scala.util.Try(
          Tables.parquet(spark, s"$dir/documents.parquet").count()).getOrElse(-1L)
        val timed = selected.map { case (name, fn) =>
          val times = (1 to reps).map(_ => Probe.timed {
            val rows = fn(spark, dir).count()
            spark.catalog.clearCache()
            rows
          })
          (name, times.map(_._1).min, times.head._2)
        }
        val qJson = timed.map { case (n, t, rows) =>
          s""""$n":{"sec":${Probe.r3(t)},"rows":$rows}""" }.mkString(",")
        // storage evidence for the quantized tier: float32 table bytes
        // vs the landed int8 table (present only when the materialized
        // probe row ran for this factor)
        def dirBytes(p: String): Long = {
          def sz(f: java.io.File): Long =
            if (f.isFile) f.length()
            else Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
          sz(new java.io.File(p))
        }
        val embBytes = dirBytes(s"$dir/embeddings.parquet")
        val q8 = quantizedPathFor(dir)
        val q8Bytes = if (new java.io.File(q8).exists()) dirBytes(q8) else -1L
        println(s"""{"factor":$k,"docs":$nDocs,"emb_bytes":$embBytes,"q8_bytes":$q8Bytes,"queries":{$qJson}}""")
      }
    } finally {
      // the scaled corpora live on tmpfs — never leave them behind
      Tables.rmTree(new java.io.File(outRoot))
      spark.stop()
    }
  }
}
