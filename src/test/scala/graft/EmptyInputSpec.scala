package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._

/** Zero-row inputs are the COMMON case at scale — an incremental run
  * with an empty delta, a partition slice with no rows, a fresh corpus
  * dir — and driver-side `.head`/`.collect()(0)` habits turn them into
  * NPEs deep inside a 1000-executor job. Every operator family must
  * return an empty (or identity) frame instead of throwing.
  *
  * The fixture is a full schema-faithful copy of the sf0.001 layout
  * with zero rows in every table.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_sf").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events must keep its nanos-long read path: copy the truncated
    // schema the engine actually consumes back out as a plain parquet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("dedup tiers return empty frames on an empty corpus") {
    assert(Dedup.exactDedup(spark, emptyDir).count() === 0)
    assert(Dedup.ngramJaccardPairs(spark, emptyDir).count() === 0)
    assert(Dedup.minhashLshPairs(spark, emptyDir).count() === 0)
    assert(Dedup.simhashPairs(spark, emptyDir).count() === 0)
    assert(Dedup.rollingFingerprintPairs(spark, emptyDir).count() === 0)
    assert(Dedup.dedupClusters(spark, emptyDir).count() === 0)
    assert(Dedup.incrementalDedup(spark, emptyDir).count() === 0)
    assert(Dedup.sourceOverlap(spark, emptyDir).count() === 0)
    assert(Dedup.semanticDedup(spark, emptyDir).count() === 0)
    assert(Dedup.semanticDedupTrained(spark, emptyDir).count() === 0)
    assert(Dedup.duplicateSpans(spark, emptyDir).count() === 0)
    assert(TextOps.bigramSurprisal(spark, emptyDir).count() === 0)
    assert(TextOps.bigramSurprisalSampled(spark, emptyDir).count() === 0)
    assert(Bpe.bpeMerges(spark, emptyDir).count() === 0)
    assert(Bpe.bpeTokenize(spark, emptyDir).count() === 0)
  }

  test("t7's corpus gram total is 0, not NULL, on an empty corpus") {
    val counts = spark.read.parquet(s"$emptyDir/documents.parquet")
      .select(col("doc_id").as("gram_h"), lit(1L).as("cnt"))
    val tot = TextOps.gramTotalOf(counts).collect()
    assert(tot.length === 1 && !tot(0).isNullAt(0) && tot(0).getLong(0) === 0L)
  }

  test("graph maintenance twins and ingest streams survive an empty corpus") {
    // incremental forms: empty base + empty delta → empty output
    assert(Graph.trianglesIncremental(spark, emptyDir).count() === 0)
    assert(Graph.trianglesIncrementalOriented(spark, emptyDir).count() === 0)
    assert(SparkEntry.queries("g3b_incremental_kcore")(spark, emptyDir).count() === 0)
    assert(SparkEntry.queries("g3c_maintained_kcore")(spark, emptyDir).count() === 0)
    assert(Graph.weakEdgesIncremental(spark, emptyDir).count() === 0)
    assert(Dedup.dedupClustersIncremental(spark, emptyDir).count() === 0)
    assert(Dedup.dedupClustersMaintain(spark, emptyDir).count() === 0)
    // ingest streams publish NOTHING on zero rows; the gate readers
    // must return the empty relation, not throw on a missing dir
    assert(Dedup.streamedExactDedup(spark, emptyDir).count() === 0)
    assert(Dedup.streamedNearDupPairs(spark, emptyDir).count() === 0)
    assert(Curation.streamedCurate(spark, emptyDir).count() === 0)
  }

  test("curation tier returns empty frames on an empty corpus") {
    assert(Curation.curate(spark, emptyDir).count() === 0)
    assert(Curation.decontaminate(spark, emptyDir).count() === 0)
    assert(Curation.stratifiedSample(spark, emptyDir).count() === 0)
    assert(Curation.mixtureEpochs(spark, emptyDir).count() === 0)
    assert(Curation.sequencePacking(spark, emptyDir).count() === 0)
    assert(Curation.sourceCaps(spark, emptyDir).count() === 0)
    assert(Curation.clusterCaps(spark, emptyDir).count() === 0)
    assert(Curation.overlapWeights(spark, emptyDir).count() === 0)
    assert(SnapshotDiff.releaseDiff(spark, emptyDir).count() === 0)
  }

  test("similarity tier returns empty frames on empty embeddings") {
    assert(Similarity.cosineTopK(spark, emptyDir).count() === 0)
    assert(Similarity.nearDupTopPairs(spark, emptyDir).count() === 0)
    assert(Similarity.nearDupTopPairsQuantized(spark, emptyDir).count() === 0)
    assert(Similarity.lshTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfTopK(spark, emptyDir).count() === 0)
    assert(Similarity.kmeansStep(spark, emptyDir).count() === 0)
    assert(Similarity.quantizedTopK(spark, emptyDir).count() === 0)
    assert(Similarity.batchTopK(spark, emptyDir).count() === 0)
    assert(Similarity.mmrRerank(spark, emptyDir).count() === 0)
    // landed tiers: a zero-row partitioned write lands no parquet
    // footer, so the index write falls back to a plain schema-bearing
    // file and every probe variant returns an empty page (round 9:
    // all three threw before)
    assert(Similarity.ivfLandedTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfLandedTopK2(spark, emptyDir).count() === 0)
    assert(Similarity.ivfTrainedTopK2(spark, emptyDir).count() === 0)
    assert(Similarity.pqTopK(spark, emptyDir).count() === 0)
    assert(Similarity.pqTopKReranked(spark, emptyDir).count() === 0)
    assert(Similarity.ivfFilteredTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfPqTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfIncrementalTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfDeletedTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfCdcTopK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfPqTrainedTopK(spark, emptyDir).count() === 0)
    assert(Similarity.pqRecallAtK(spark, emptyDir).count() === 0)
    assert(Similarity.ivfStreamedTopK(spark, emptyDir).count() === 0)
  }

  test("dashboard fan-out returns zero families on an empty scope") {
    assert(Profile.dashboard(spark, emptyDir).count() === 0)
  }

  test("range join returns empty rollups on empty orders") {
    assert(RangeJoin.bandRollup(spark, emptyDir).count() === 0)
    assert(RangeJoin.bandRollupBucketed(spark, emptyDir).count() === 0)
  }

  test("a null-text document reaches no BM25 or v13 page and counts as zero tokens") {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    val nullId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // the same corpus plus one document, once with a null text and once
    // with an empty one: a null text must weigh exactly like no tokens
    def corpusWith(text: Column) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_null_text").toFile
      sys.addShutdownHook(rmTree(dir))
      docs.unionByName(spark.range(1).select(lit(nullId).as("doc_id"), text.as("text"),
          lit("en").as("lang"), lit("planted").as("source"), lit(0L).as("n_chars")))
        .write.parquet(s"$dir/documents.parquet")
      dir.getAbsolutePath
    }
    val withNull = corpusWith(lit(null).cast("string"))
    val withEmpty = corpusWith(lit(""))
    def scores(dir: String) = TextOps.bm25ScoredOf(Tables.documents(spark, dir),
      TextOps.Bm25Terms).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sNull = scores(withNull)
    assert(sNull === scores(withEmpty), "a null text changed N, T or a df")
    assert(sNull(nullId) === 0L)
    def ids(df: DataFrame) = df.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    assert(!ids(TextOps.bm25Rank(spark, withNull)).contains(nullId))
    assert(!ids(TextOps.bm25Faceted(spark, withNull).filter(col("kind") === "hit"))
      .contains(nullId))
    assert(!ids(TextOps.snippetPage(spark, withNull)).contains(nullId))
    assert(!ids(Similarity.hybridRrf(spark, withNull)).contains(nullId))
    assert(TextOps.bm25Rank(spark, withNull).collect() ===
      TextOps.bm25Rank(spark, withEmpty).collect())
  }

  test("layout tier survives empty inputs (empty range write, empty evolved batches)") {
    assert(Partitioned.sortedLayoutRollup(spark, emptyDir).count() === 0)
    assert(Partitioned.schemaEvolutionRollup(spark, emptyDir).count() === 0)
    assert(Partitioned.zorderLayoutRollup(spark, emptyDir).count() === 0)
  }

  test("text, events, and merge tiers survive empty inputs") {
    assert(TextOps.tokenCounts(spark, emptyDir).count() === 0)
    assert(TextOps.piiScrub(spark, emptyDir).count() === 0)
    assert(TextOps.repetitionStats(spark, emptyDir).count() === 0)
    assert(AsofJoin.viewBeforePurchase(spark, emptyDir).count() === 0)
    assert(AsofJoin.viewBeforePurchaseMerged(spark, emptyDir).count() === 0)
    assert(Scd2.scd2Build(spark, emptyDir).count() === 0)
    assert(Scd2.pointInTime(spark, emptyDir).count() === 0)
    assert(Scd2.sessionVersions(spark, emptyDir).count() === 0)
    assert(Profile.volumeAnomaly(spark, emptyDir).count() === 0)
    assert(Multimodal.phashPairs(spark, emptyDir).count() === 0)
    // the rollup form reports a zero row per admitted distance instead
    val phr = Multimodal.phashNeardupRollup(spark, emptyDir).collect()
    assert(phr.length === Multimodal.PhashMaxHamming + 1)
    phr.foreach(r => assert(r.getLong(1) === 0L && r.getLong(2) === 0L))
    assert(TextOps.chunkWindows(spark, emptyDir).count() === 0)
    assert(TextOps.heavyHitters(spark, emptyDir).count() === 0)
    assert(TextOps.bm25Rank(spark, emptyDir).count() === 0)
    assert(Similarity.hybridRrf(spark, emptyDir).count() === 0)
    assert(Dedup.spanScrub(spark, emptyDir).count() === 0)
    assert(Similarity.colbertMaxsim(spark, emptyDir).count() === 0)
    assert(TextOps.bm25IndexedTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25IncrementalTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25Faceted(spark, emptyDir).count() === 0)
    assert(TextOps.bm25DeletedTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25CdcTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25CompactedTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25StreamedTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25CdcStreamedTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25BatchTopK(spark, emptyDir).count() === 0)
    assert(TextOps.bm25BatchPage2(spark, emptyDir).count() === 0)
    assert(Similarity.hybridRrfIndexed(spark, emptyDir).count() === 0)
    assert(Similarity.mmrRerankHybrid(spark, emptyDir).count() === 0)
    assert(Curation.dsirSelection(spark, emptyDir).count() === 0)
    assert(LlmOps.extractWithQuarantine(spark, emptyDir).count() === 0)
    // round-10 additions: phrase/PRF/snippet serving, rank/canonical,
    // resample/outlier, cross-modal
    assert(TextOps.phraseSearch(spark, emptyDir).count() === 0)
    assert(TextOps.phraseIndexedSearch(spark, emptyDir).count() === 0)
    assert(TextOps.prfExpandedSearch(spark, emptyDir).count() === 0)
    assert(TextOps.snippetPage(spark, emptyDir).count() === 0)
    assert(Graph.pagerank(spark, emptyDir).count() === 0)
    assert(SparkEntry.queries("g1c_incremental_pagerank")(spark, emptyDir).count() === 0)
    assert(SparkEntry.queries("g1d_maintained_pagerank")(spark, emptyDir).count() === 0)
    assert(Graph.canonicalByRank(spark, emptyDir).count() === 0)
    assert(Timeseries.gapFillHourly(spark, emptyDir).count() === 0)
    assert(Timeseries.madOutliersHourly(spark, emptyDir).count() === 0)
    assert(Multimodal.crossmodalSearch(spark, emptyDir).count() === 0)
    assert(Graph.triangles(spark, emptyDir).count() === 0)
    assert(TextOps.pmiCollocations(spark, emptyDir).count() === 0)
    assert(Similarity.annRecallAtK(spark, emptyDir).count() === 0)
    assert(TextOps.prfExpandedIndexed(spark, emptyDir).count() === 0)
    assert(Graph.kcore(spark, emptyDir).count() === 0)
    assert(TextOps.autocomplete(spark, emptyDir).count() === 0)
    assert(TextOps.autocompleteIndexed(spark, emptyDir).count() === 0)
    assert(Curation.splitLeakage(spark, emptyDir).count() === 0)
    assert(Multimodal.frameSample(spark, emptyDir).count() === 0)
    assert(Graph.weakEdges(spark, emptyDir).count() === 0)
    assert(graft.streaming.EventsStream.windowedCountsBatch(spark, emptyDir).count() === 0)
    assert(MergeOps.mergeUpsert(spark, emptyDir).count() === 0)
    assert(MergeOps.insertIgnore(spark, emptyDir).count() === 0)
    // scalar-sum queries have a defined EMPTY value, not an empty frame
    val scalar = Relational.scalarSumCoalesce(spark, emptyDir).collect()
    assert(scalar.length === 1 && scalar(0).getDouble(0) === 0.0)
    // the profiler reports every column even over an empty corpus
    val prof = Profile.corpusProfile(spark, emptyDir).collect()
    assert(prof.length === 4)
    prof.foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L && r.getLong(3) === 0L,
        s"non-zero stats on empty corpus: $r")
    }
    // the GENERIC profiler path (any schema, both distinct tiers)
    val oprof = Profile.ordersProfile(spark, emptyDir).collect()
    assert(oprof.length === 6)
    val aprof = Profile.profileOf(
      spark.read.parquet(s"$emptyDir/orders.parquet"), approx = true).collect()
    assert(aprof.length === 6)
    (oprof ++ aprof).foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(3) === 0L &&
        r.getString(4) === "" && r.getString(5) === "",
        s"non-empty stats on empty table: $r")
    }
  }
}
