package graft

import graft.operators.Relational

/** Physical-plan assertions — the scale contract (SURVEY §4): dimension
  * joins must broadcast, predicates and projections must reach the
  * Parquet scan. These lock in the plans we chose, so a refactor that
  * silently de-optimizes fails CI. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("flagship top-k broadcasts region+nation and plans TakeOrderedAndProject") {
    val p = plan(Relational.topkCustomersByRegion(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed into take-ordered:\n$p")
  }

  test("region filter is pushed down to the parquet scan") {
    val p = plan(Relational.topkCustomersByRegion(spark, sfDir))
    assert(p.contains("EqualTo(r_name,EUROPE)") && p.contains("PushedFilters"),
      s"region predicate not pushed to scan:\n$p")
  }

  test("join-then-filter pushes the order-status predicate below the join") {
    val p = plan(Relational.joinThenFilter(spark, sfDir))
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"status filter not pushed into orders scan:\n$p")
  }

  test("column pruning reaches the scan (no full-width lineitem read)") {
    val p = plan(Relational.countDistinctPerGroup(spark, sfDir))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
      s"lineitem scan not pruned to 2 columns:\n$p")
  }

  test("keep-last dedup aggregates with partial combine, no window") {
    val p = plan(Relational.keepLastDedup(spark, sfDir))
    assert(!p.contains("Window"), s"row_number window survived the max(struct) rewrite:\n$p")
    // partial_max before the exchange = one row per key shuffles
    assert(p.contains("partial_max"), s"no map-side partial aggregation:\n$p")
  }

  test("fuzzy link evaluates the length prefilter below the argmax window") {
    val p = plan(graft.operators.FuzzyLink.linkSuppliersToCustomers(spark, sfDir))
    val w = p.indexOf("Window")
    val f = p.indexOf("abs((length(norm_c")
    assert(w >= 0, s"no argmax window in:\n$p")
    assert(f > w, s"length prefilter missing or not below the window:\n$p")
  }

  test("banded fuzzy link blocks on the length band and equals the single-key link") {
    val banded = graft.operators.FuzzyLink.linkSuppliersToCustomersBanded(spark, sfDir)
    val p = plan(banded)
    assert(p.contains("s_band") && p.contains("c_band"),
      s"length band not part of the join key:\n$p")
    // identical output — the lossless-blocking claim the oracle also checks
    val plain = graft.operators.FuzzyLink.linkSuppliersToCustomers(spark, sfDir)
    assert(banded.exceptAll(plain).count() === 0 &&
      plain.exceptAll(banded).count() === 0,
      "banded blocking changed the link output")
    assert(plain.count() > 0)
  }

  test("scope semi-join broadcasts the scope side") {
    val p = plan(Relational.scopeSemiJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"semi join not broadcast:\n$p")
  }

  test("zip ingestion parses with from_csv and broadcasts the committee semi-join") {
    val p = plan(graft.sources.ZipSource.zipIngestOverOrders(spark, sfDir))
    assert(p.contains("from_csv"), s"zip lines not parsed by from_csv:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"committee filter not a broadcast semi join:\n$p")
  }

  test("llm extraction partial-aggregates token counts below the exchange") {
    val p = plan(graft.operators.LlmOps.extractKeywords(spark, sfDir))
    val partial = p.indexOf("partial_count")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(partial >= 0, s"no map-side partial count in:\n$p")
    // executedPlan prints top-down, so the map-side partial (earliest
    // stage) must sit BELOW (larger index than) the exchange above it
    assert(exchange >= 0 && partial > exchange,
      s"partial aggregation does not precede the shuffle:\n$p")
    // the batched seam computes map-only: no hash shuffle (the only
    // exchange is the output-ordering rangepartitioning)
    val pb = plan(graft.operators.LlmOps.extractKeywordsBatched(spark, sfDir))
    assert(!pb.contains("Exchange hashpartitioning"),
      s"batched model path must not hash-shuffle:\n$pb")
  }

  test("sequence packing windows by (lang, shard), never lang alone") {
    // a lang-only window serializes the corpus through |langs| tasks;
    // the shard key is what keeps the cumulative sum parallel
    val p = plan(graft.operators.Curation.sequencePacking(spark, sfDir))
    val win = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(win.contains("lang") && win.contains("shard"),
      s"packing window not sharded:\n$p")
  }

  test("paged-spool parse schedules no schema inference and one aggregate exchange") {
    val p = plan(graft.sources.PagedSource.pagedScanOverCustomers(spark, sfDir))
    assert(p.contains("Scan json"), s"spool not read as schema'd json scan:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"rollup lacks map-side partial aggregation:\n$p")
  }

  test("sampling and mixture stay map-only — no hash exchange anywhere") {
    // the whole point of hash-membership sampling / literal-sequence
    // epoch expansion is that no shuffle touches the corpus; the only
    // exchange either plan may contain is the presentation orderBy
    val ps = plan(graft.operators.Curation.stratifiedSample(spark, sfDir))
    assert(!ps.contains("Exchange hashpartitioning"),
      s"stratified sample hash-shuffles:\n$ps")
    val pm = plan(graft.operators.Curation.mixtureEpochs(spark, sfDir))
    assert(!pm.contains("Exchange hashpartitioning"),
      s"mixture epochs hash-shuffles:\n$pm")
    val pt = plan(graft.operators.TextOps.piiScrub(spark, sfDir))
    assert(!pt.contains("Exchange hashpartitioning"),
      s"pii scrub hash-shuffles:\n$pt")
  }

  test("profiler approx tier drops the Expand and tracks exact distincts") {
    import graft.operators.Profile
    // exact multi-distinct pays one Expand (rows × #columns) — the
    // wide-table approx tier must NOT
    val exactPlan = plan(Profile.ordersProfile(spark, sfDir))
    assert(exactPlan.contains("Expand"),
      s"exact profile lost its multi-distinct Expand shape:\n$exactPlan")
    val approxDf = Profile.profileOf(Tables.orders(spark, sfDir), approx = true)
    val approxPlan = plan(approxDf)
    assert(!approxPlan.contains("Expand"),
      s"approx profile still plans an Expand:\n$approxPlan")
    val exact = Profile.ordersProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(2L, (0.1 * n).toLong),
        s"approx distinct for $c off: ${approx(c)} vs exact $n")
    }
  }

  test("decontamination probes benchmark grams via broadcast joins") {
    val p = plan(graft.operators.Curation
      .decontaminationFrame(spark, sfDir, persist = false)._1)
    // df-cap removal (anti) and the benchmark probe (inner) must both
    // be broadcast — the training-side gram stream is never shuffled
    // before the probe
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"contamination probe not broadcast:\n$p")
    val probeFirst = p.indexOf("BroadcastHashJoin")
    assert(probeFirst >= 0 && p.indexOf("SortMergeJoin") < 0,
      s"benchmark side fell back to a shuffled join:\n$p")
  }

  test("as-of join plans as an equi join with the band as residual, no nested loop") {
    val p = plan(graft.operators.AsofJoin.viewBeforePurchase(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join degenerated to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in:\n$p")
  }

  test("bucketed as-of join carries the time bucket in its equi keys") {
    val p = plan(graft.operators.AsofJoin.viewBeforePurchaseBucketed(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join degenerated to a nested loop:\n$p")
    // the probe bucket must be one of the join's EQUI keys (not just a
    // residual filter): the join expression lists 'probe' alongside
    // user_id in the key set
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.isDefined, s"no equi join in:\n$p")
    assert(joinLine.get.contains("probe"),
      s"time bucket missing from join keys: ${joinLine.get}")
  }

  test("kmeans re-estimation partial-aggregates below its exchange") {
    val p = plan(graft.operators.Similarity.kmeansStep(spark, sfDir))
    val partial = p.indexOf("partial_sum")
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(partial >= 0, s"no map-side partial sum in:\n$p")
    assert(exchange >= 0 && partial > exchange,
      s"posexplode rows shuffle without map-side combine:\n$p")
  }

  test("quantized top-k broadcasts the query row and plans TakeOrderedAndProject") {
    val p = plan(graft.operators.Similarity.quantizedTopK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not take-ordered:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query row not broadcast:\n$p")
  }

  test("batch top-k plans a WindowGroupLimit (Catalyst's two-phase per-query top-k)") {
    // the rank<=k filter over the per-query window must become a
    // WindowGroupLimit: k rows per query survive each map partition
    // BEFORE the shuffle — without it the final |queries|-partition
    // window sorts the whole corpus × batch and skews at scale
    val p = plan(graft.operators.Similarity.batchTopK(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not rewritten into a group limit:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query batch not broadcast:\n$p")
  }

  test("c7 source caps: salted two-phase rank plans WindowGroupLimits, probes broadcast") {
    // both rank phases must truncate to cap BEFORE their exchange
    // (partial WindowGroupLimit per map partition), and the over-cap
    // source list must reach the corpus as a broadcast probe — a
    // shuffled semi/anti join here would mean the whole corpus pays a
    // key exchange just to learn which sources are hot
    val (frame, counts) = graft.operators.Curation.sourceCapsFrames(spark, sfDir)
    val p = plan(frame)
    counts.unpersist(true)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected partial+final group limits for both rank phases:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"over-cap probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffled join:\n$p")
  }

  test("e4 dashboard: all four families consume ONE cached scope, facts join it broadcast") {
    // the reference re-resolves the politician scope in 10+ separate
    // round-trips; the one-plan form must resolve it once — every
    // family's subtree reads the cached scope (InMemoryTableScan), and
    // every customer.parquet mention in the plan is the cached
    // relation's self-description, never a direct re-scan
    val (frame, cached) = graft.operators.Profile.dashboardFrames(
      spark, sfDir, "BUILDING")
    val p = plan(frame)
    cached.foreach(_.unpersist(true))
    val inMem = "InMemoryTableScan".r.findAllIn(p).size
    val custScans = "customer\\.parquet".r.findAllIn(p).size
    assert(inMem >= 4, s"expected every family on the cached scope:\n$p")
    assert(custScans <= inMem,
      s"customer scanned outside the cached scope ($custScans scans, $inMem cache reads):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"scope not broadcast into facts:\n$p")
  }

  test("s19 release diff: the exchange carries digests, never the text payload") {
    // the full-outer compare must project (doc_id, digest) below its
    // exchange — text reaching the shuffle would defeat the design
    val df = graft.operators.SnapshotDiff.releaseDiff(spark, sfDir)
    val p = plan(df)
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(doc_id")
    assert(exchangeIdx >= 0, s"no key exchange for the compare:\n$p")
    assert(p.contains("md5"), s"digest not computed in-plan:\n$p")
  }

  test("chunk windows stay map-only — no hash exchange anywhere") {
    // chunking must pipeline into its consumer: the only exchange the
    // plan may contain is the presentation orderBy's rangepartitioning
    val p = plan(graft.operators.TextOps.chunkWindows(spark, sfDir))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking hash-shuffles:\n$p")
    assert(p.contains("Generate explode"), s"no explode in:\n$p")
  }

  test("dsir scores through a broadcast of the constant-size bucket LM") {
    // the corpus-side gram frame must join the 256-row LM map-side;
    // a hash-shuffled LM join would re-shuffle every gram occurrence
    val p = plan(graft.operators.Curation.dsirFrame(
      graft.Tables.documents(spark, sfDir), persist = false))
    assert(p.contains("BroadcastHashJoin"), s"bucket LM not broadcast:\n$p")
  }

  test("t7b assigns buckets through broadcast cuts, window only over the sample") {
    // the production claim: the per-lang NTILE's whole-language sort is
    // replaced by a window over the hash SAMPLE and a broadcast of the
    // |langs|×2 cut rows into the score scan
    val p = plan(graft.operators.TextOps.bigramSurprisalSampledOf(
      graft.Tables.documents(spark, sfDir), persist = false))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"cuts not broadcast:\n$p")
    // every Window in the plan sits above the sample filter (the md5
    // membership predicate), never the full score frame
    val winIdx = p.linesIterator.zipWithIndex.filter(_._1.contains("Window")).map(_._2)
    assert(winIdx.nonEmpty, s"no sample window found:\n$p")
    assert(p.contains("md5"), s"hash-membership sample filter missing:\n$p")
  }

  test("t10 heavy hitters: sketch probes broadcast; at most one token-keyed exchange") {
    // the scale claim: rare tokens die at the map-side broadcast
    // filter, so the only token-keyed exchange is the final exact
    // count over CANDIDATES — a vocabulary-shaped shuffle of raw
    // occurrences must never appear
    val (cand, _, _) = graft.operators.TextOps.heavyHitterCandidates(
      graft.Tables.documents(spark, sfDir), persist = false)
    val p = plan(cand)
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"expected >=3 broadcast sketch probes, saw $bhj:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sketch probe fell back to a shuffled join:\n$p")
    val tokEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("token"))
    assert(tokEx === 0,
      s"candidate generation must not shuffle on token, saw $tokEx:\n$p")
  }

  test("scd2 build plans one user exchange; point-in-time joins on the user key") {
    val pb = plan(graft.operators.Scd2.scd2Build(spark, sfDir))
    val exchanges = pb.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"SCD2 build should shuffle ONCE on user_id, saw $exchanges:\n$pb")
    val pp = plan(graft.operators.Scd2.pointInTime(spark, sfDir))
    assert(pp.contains("user_id"), s"point-in-time join not keyed:\n$pp")
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the equi join as a residual:\n$pp")
  }

  test("bm25 ranking (t11): no explode, one-row stats broadcast, page take-ordered") {
    import org.apache.spark.sql.functions.{col, desc}
    import graft.operators.TextOps
    val scored = TextOps.bm25ScoredOf(
      Tables.documents(spark, sfDir), TextOps.Bm25Terms)
    val p = plan(scored.orderBy(desc("score_milli"), col("doc_id")).limit(10))
    // tf comes from the TermCounts kernel in the scan stage — a Generate
    // here would mean a posting-list explode (corpus-sized shuffle)
    assert(!p.contains("Generate"), s"bm25 tf must not explode tokens:\n$p")
    // corpus stats collapse to ONE row and come back as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats row not broadcast:\n$p")
    // the only exchange is the stats singleton — scoring itself never
    // hash-shuffles the corpus
    assert(!p.contains("Exchange hashpartitioning"),
      s"bm25 scoring must not hash-shuffle the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"page not take-ordered:\n$p")
  }

  test("bm25 (t11) and hybrid (v13): the TermCounts kernel runs once per corpus pass") {
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.functions.TermCounts
    import graft.operators.{Similarity, TextOps}
    // the lexical tier reads the corpus twice, the stats pass and the
    // score pass; each must split every document exactly once
    Seq("t11" -> TextOps.bm25Rank(spark, sfDir),
        "v13" -> Similarity.hybridRrf(spark, sfDir)).foreach { case (name, df) =>
      val p = df.queryExecution.optimizedPlan
      val kernels = p.collect { case n =>
        n.expressions.map(_.collect { case t: TermCounts => t }.size).sum }.sum
      assert(kernels === 2, s"$name: TermCounts evaluated $kernels times, want 2:\n$p")
      val lambdas = p.collect { case n if n.expressions.exists(_.exists(
        _.isInstanceOf[ArrayFilter])) => n }
      assert(lambdas.isEmpty, s"$name: ArrayFilter lambda in the plan:\n$p")
      val reFilters = p.collect { case f: Filter if f.condition.exists(
        _.isInstanceOf[TermCounts]) => f }
      assert(reFilters.isEmpty, s"$name: a Filter re-evaluates the kernel:\n$p")
      val cached = p.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, s"$name: persisted relation in the plan:\n$p")
    }
  }

  /** ONE landed index for both bm25 plan tests (built lazily on first
    * use; cleaned by a shutdown hook so an assertion failure can't
    * leak it the way per-test rmTree-after-asserts would). */
  private lazy val bm25PlanIdx: String = {
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_plan").toFile
    sys.addShutdownHook(rmTree(tmp))
    val path = tmp.getAbsolutePath + "/idx"
    graft.operators.TextOps.materializeBm25Index(spark, sfDir, path)
    path
  }

  test("bm25 landed index (t11b): probe prunes to the terms' bucket dirs, term filter pushed") {
    import graft.operators.TextOps
    val path = bm25PlanIdx
    val p = plan(TextOps.bm25OverIndex(spark, path, TextOps.Bm25Terms, 10))
    // the postings scan must carry the bucket values as PARTITION
    // filters (directory pruning) and the term equality as a pushed
    // data filter — per-query IO tracks the terms' postings, not the
    // corpus
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket"))
    assert(scanLine.isDefined, s"no bucket partition filter on the postings scan:\n$p")
    assert(p.contains("PushedFilters") && p.contains("In(tok"),
      s"term filter not pushed to the postings scan:\n$p")
    // the solo page must keep its distributed top-k (no
    // single-partition window for a batch of one)
    assert(p.contains("TakeOrderedAndProject"),
      s"solo page not take-ordered:\n$p")
  }

  test("cluster caps (c9): centroids broadcast, cap rank truncates before the exchange") {
    import graft.operators.Curation
    val p = plan(Curation.clusterCaps(spark, sfDir))
    // the 8-row centroid table must broadcast into the scan-stage
    // argmax — an assignment that shuffles the corpus against the
    // centroids would be corpus-shaped at every scale
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    // with only 8 cells, the per-cell rank is the skew hazard: the
    // WindowGroupLimit partial truncates each map task to cap rows
    // per cell BEFORE the exchange, so reduce input is tasks x cap
    assert(p.contains("WindowGroupLimit"),
      s"cap rank not two-phase (no WindowGroupLimit):\n$p")
  }

  test("bm25 batch (t11h): one pruned probe, per-query WindowGroupLimit top-k") {
    import graft.operators.TextOps
    val path = bm25PlanIdx
    val queries = TextOps.Bm25Queries.map { case (i, q) => (i, TextOps.bm25TermsOf(q)) }
    val p = plan(TextOps.bm25BatchOverIndex(spark, path, queries, 10))
    // the batch's postings scan carries the UNION of every query's
    // terms' buckets as partition filters with the term equality
    // pushed — per-batch IO is the distinct terms' posting bytes, the
    // whole amortization claim
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket"))
    assert(scanLine.isDefined, s"no bucket partition filter on the batch scan:\n$p")
    assert(p.contains("PushedFilters") && p.contains("In(tok"),
      s"term filter not pushed to the batch scan:\n$p")
    // per-query rank truncates BEFORE the window's exchange
    // (WindowGroupLimit partial mode — the v8 two-phase discipline)
    assert(p.contains("WindowGroupLimit"),
      s"batch top-k not two-phase (no WindowGroupLimit):\n$p")
  }

  test("autocomplete landed vocab (t16b): probe prunes to the prefix's letter partition") {
    import graft.operators.TextOps
    val tmp = java.nio.file.Files.createTempDirectory("graft_vocab_plan").toFile
    sys.addShutdownHook(rmTree(tmp))
    val path = tmp.getAbsolutePath + "/idx"
    TextOps.materializeVocabIndexOf(graft.Tables.documents(spark, sfDir), path)
    val p = plan(TextOps.autocompleteOverIndex(spark, path, "s", 5))
    // the vocab scan must carry the first-character value as a
    // PARTITION filter (directory pruning) with the prefix predicate
    // pushed — probe IO tracks one letter partition, not the vocab
    val scanLine = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("p1"))
    assert(scanLine.isDefined, s"no p1 partition filter on the vocab scan:\n$p")
    assert(p.contains("PushedFilters") && p.contains("StringStartsWith(term"),
      s"prefix filter not pushed to the vocab scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"page not take-ordered:\n$p")
  }

  test("d3/st9 band projection evaluates MinHashSig once (empty-array form, no filter duplication)") {
    // round 17: `.filter(sig IS NOT NULL)` above the signature
    // projection gets alias-substituted by predicate pushdown, so the
    // MinHash pass ran TWICE per doc (once in the pushed Filter, once
    // in the Project). The empty-band-array form has no Filter to push;
    // the signature must appear in the optimized plan exactly once.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parquet-backed input: ConvertToLocalRelation folds a Seq relation
    // (pre-evaluating the projection at plan time), hiding the shape
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def sigCount(df: org.apache.spark.sql.DataFrame): Int =
      "minhashsig".r.findAllIn(df.queryExecution.optimizedPlan.toString
        .toLowerCase).size
    val bands = graft.streaming.NearDupStream.bucketRowsOf(docs)
    assert(sigCount(bands) === 1,
      s"band projection must evaluate the signature once:\n${bands.queryExecution.optimizedPlan}")
    // executable documentation of the duplication the form avoids: the
    // filter shape evaluates the signature in BOTH the pushed filter
    // and the projection
    val seedsA = (0 until graft.operators.Dedup.MinHashK).map(graft.operators.Dedup.seedA)
    val seedsB = (0 until graft.operators.Dedup.MinHashK).map(graft.operators.Dedup.seedB)
    val filterForm = docs.select(col("doc_id"),
        graft.functions.MinHashSig(graft.operators.Dedup.shingles(col("text")),
          seedsA, seedsB, graft.operators.Dedup.MinHashP).as("sig"))
      .filter(col("sig").isNotNull)
    assert(sigCount(filterForm) === 2,
      "pushdown no longer duplicates the aliased signature — the " +
        "empty-array form may be reverted to the simpler filter")
    // row identity: a short doc (null sig) emits no band rows; a real
    // doc emits exactly LshBands rows
    val planted = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "ab")).toDF("doc_id", "text")
    val plantedBands = graft.streaming.NearDupStream.bucketRowsOf(planted)
    assert(plantedBands.filter(col("doc_id") === 1L).count() === 0L)
    assert(plantedBands.filter(col("doc_id") === 0L).count() ===
      graft.operators.Dedup.LshBands.toLong)
  }

  test("f11 date coercion parses once: the null-year filter stays above the aggregate") {
    // round 17: a bare `yr IS NOT NULL` is a grouping-key predicate, so
    // PushDownPredicates moves it below the aggregate and re-evaluates
    // the whole format+parse chain per row. The never-true `n < 0`
    // disjunct pins it above; a rule that simplifies it away fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val opt = graft.operators.Scalars.dateCoerce(spark, sfDir).queryExecution.optimizedPlan
    assert("gettimestamp".r.findAllIn(opt.toString.toLowerCase).size === 1,
      s"the date must be parsed exactly once:\n$opt")
    val filters = opt.collect { case f: Filter => f }
    assert(filters.size === 1 && filters.head.child.isInstanceOf[Aggregate],
      s"the null-year filter must sit directly above the aggregate:\n$opt")
  }

  test("etl1/s8 donation rollups hash-aggregate: the date is formatted after its min") {
    // round 17: min over the formatted STRING forced every phase of
    // the rollup to SortAggregate (4 nodes); min(DATE) then
    // date_format keeps it a HashAggregate
    Seq("etl1" -> graft.sources.ReferenceSources.donationPipelineOverOrders(spark, sfDir),
        "s8" -> graft.sources.ZipSource.zipIngestOverOrders(spark, sfDir)).foreach {
      case (q, df) =>
        val p = plan(df)
        assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
          s"$q rollup must plan no SortAggregate:\n$p")
    }
  }
}
