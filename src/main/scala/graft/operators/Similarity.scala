package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Tables._
import graft.functions.Vectors

/** Similarity search over the `embeddings` table (vec_id, embedding
  * float[64], label).
  *
  * Reference: Pinecone cosine top-k, k=5-10 (app.py:338-367); here as
  * native Spark over an embedding column — brute force as the exact
  * baseline, plus the two scale paths: random-hyperplane LSH bucketing
  * and label-partitioned (IVF-style) blocking.
  */
object Similarity {

  /** W6/X6: brute-force cosine top-k against one query vector.
    *
    * The query embedding joins in as a 1-row broadcast (no collect to
    * the driver); scoring is a map-stage; top-k plans as
    * TakeOrderedAndProject. Exact, O(N) per query — the baseline every
    * ANN variant is measured against. Similarity is rounded to 6 dp for
    * cross-engine hash stability; ordering uses the full-precision value.
    */
  def cosineTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame =
    cosineTopKOf(embeddings(spark, dir), queryId, k)

  /** Frame-based form of [[cosineTopK]] — same plan over any
    * (vec_id, label, embedding) frame; the spec suite runs it at the
    * reference's 1536-dim width. */
  private[graft] def cosineTopKOf(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_embedding")))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim_r"))
  }

  /** Reference embedding width (hydrate_vectors.py:98-106: 1536-dim). */
  val WideDim = 1536

  /** Widen the fixture's vectors to the reference's real 1536-dim width,
    * deterministically and ENGINE-PORTABLY: component j of vector v is
    * the unsigned 32-bit window j%4 of md5("v:<j/4>"), mapped into
    * [-0.5, 0.5) — the same cross-engine md5 trick as the LSH plane
    * matrix, so the DuckDB oracle reproduces the exact doubles and the
    * driver hash (not just the spec suite) proves correctness at real
    * width. Derivation runs as ONE expression per row (HashVector; the
    * HOF formulation interprets a lambda per component and measured ~2s
    * of the bench median). Repartitioned before deriving: the fixture
    * parquet is a single split (bench-variance playbook #3). */
  private[graft] def wideEmbeddings(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
      .repartition(col("vec_id"))
      .withColumn("embedding",
        graft.functions.HashVector(col("vec_id").cast("string"), WideDim))

  /** V1w: brute-force cosine top-k at the reference's 1536-dim width —
    * same plan as [[cosineTopK]] (broadcast 1-row query, codegen'd
    * VecDot over array<double>, TakeOrderedAndProject), driver-gated so
    * real-width codegen/boxing behavior is oracle-proven. The widened
    * frame is shared: the query-row filter and the corpus scan both
    * consume it, and the interpreted-HOF derivation must run once, not
    * once per branch. */
  def cosineTopKWide(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val wide = shared(wideEmbeddings(spark, dir))
    materializeAndRelease(cosineTopKOf(wide, queryId, k), wide)
  }

  /** V7: scalar-quantized (int8) cosine search — the storage/bandwidth
    * tier of the ANN ladder. The corpus is quantized to unit-norm int8
    * ([[graft.functions.QuantizeVec]]: qᵢ = floor(vᵢ/‖v‖·127), 4× the
    * density of float32) and candidates are ranked by the EXACT integer
    * dot product ([[graft.functions.VecDotInt]], codegen'd) — ≈127²·cosθ,
    * no float math at query time. At 100 TB quantization runs once at
    * ingest and the int8 column is what the cluster scans: a quarter of
    * the bytes off disk and a pure-integer multiply-add scorer is the
    * difference between bandwidth-bound and compute-bound search. The
    * integer score is portable arithmetic end-to-end, so the oracle
    * mirrors the whole tier byte-for-byte (v1's sibling plan shape:
    * broadcast 1-row query, TakeOrderedAndProject top-k);
    * SimilaritySpec additionally pins recall against the exact tier. */
  def quantizedTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame =
    quantizedTopKOver(embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.QuantizeVec(col("embedding")).as("q"))
      .filter(col("q").isNotNull), // zero vectors have no direction (oracle: WHERE nrm > 0)
      queryId, k)

  /** Quantize once, land the int8 table — the production ingest step
    * whose output [[quantizedTopKOverTable]] searches. Returns the
    * landed path. */
  def materializeQuantized(spark: SparkSession, dir: String, outPath: String): String = {
    embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.QuantizeVec(col("embedding")).as("q"))
      .filter(col("q").isNotNull)
      .write.mode("overwrite").parquet(outPath)
    outPath
  }

  /** Search over an ALREADY-quantized (vec_id, label, q) table — the
    * production form: at 100 TB quantization runs once at ingest
    * ([[materializeQuantized]]) and every query scans the int8 column
    * (~1/4 of the float32 bytes; ScaleProbe records the measured
    * ratio). The in-plan form above exists so the driver gate
    * hash-checks quantization itself without a side table. */
  def quantizedTopKOverTable(spark: SparkSession, path: String,
      queryId: Long = 0L, k: Int = 10): DataFrame =
    quantizedTopKOver(Tables.parquet(spark, path), queryId, k)

  /** V7b: the quantized tier at the reference's REAL 1536-dim width —
    * the same cross-engine md5 vector derivation as v1w, quantized.
    * Proves the int8 behavior (floor discretization at 127 levels,
    * integer scoring) is oracle-exact at production dimensionality,
    * where float→int8 is 6 KB → 1.5 KB per vector — the regime where
    * quantization pays. Same sharing discipline as v1w: the derived
    * wide frame feeds the query row and the corpus scan once. */
  def quantizedTopKWide(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val wide = shared(wideEmbeddings(spark, dir))
    val qz = wide.select(col("vec_id"), col("label"),
        graft.functions.QuantizeVec(col("embedding")).as("q"))
      .filter(col("q").isNotNull)
    materializeAndRelease(quantizedTopKOver(qz, queryId, k), wide)
  }

  private[graft] def quantizedTopKOver(qz: DataFrame, queryId: Long, k: Int): DataFrame = {
    val qv = qz.filter(col("vec_id") === queryId).select(col("q").as("qq"))
    qz.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .withColumn("iscore", graft.functions.VecDotInt(col("q"), col("qq")))
      .orderBy(desc("iscore"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("iscore"))
  }

  /** PQ geometry: 64 dims → [[PqSubspaces]] subspaces of [[PqSubDim]]
    * dims, one [[PqCodebook]]-entry codebook per subspace. */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodebook = 32

  /** V10: PRODUCT QUANTIZATION with asymmetric-distance scoring
    * (Jégou et al. 2011, IEEE TPAMI "Product quantization for nearest
    * neighbor search" — public method): the memory-bound ANN rung
    * below SQ8. v7 keeps one int8 per DIMENSION (4× under float32);
    * PQ keeps one code per SUBSPACE — 8 codes per 64-dim vector here,
    * 32× under float32 — and still scores against the FULL-precision
    * query: ADC precomputes the query's dot with every codebook
    * centroid per subspace (a 32x8 = 256-entry lookup table) and a corpus
    * row's approximate dot is the sum of its 8 looked-up entries —
    * the corpus' floats are never touched at query time.
    *
    * Codebooks reuse the first-K-by-id selection rule (the IVF
    * coarse-centroid discipline, v5/d9) so the whole tier — encode
    * argmin, LUT, ADC ranking — is SQL-expressible and hash-checked
    * end to end; a production build swaps kmeans-trained codebooks
    * (one [[kmeansConvergedOf]] per subspace) through the same
    * frames, exactly as [[materializeIvfTrained]] does for the
    * coarse quantizer.
    *
    * Determinism: every per-subspace fold is left-to-right double
    * arithmetic (the VecDot order, mirrored by list_reduce); the ADC
    * sum is a left-to-right column add over the 8 pinned LUT columns
    * — at no point does a float sum cross a shuffle. Encode ties
    * break to the lower code on equal distance. */
  def pqCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PqCodebook)
      .select(col("vec_id").cast("int").as("cb_k"), col("embedding").as("cb_emb"))

  // (round 16: the per-subspace subL2/subDot COLUMN folds moved into
  // graft.functions.PqEncode / adcLuts — same left-to-right double
  // arithmetic, now map-side instead of join-shaped)

  /** Driver-collected codebook (BOUNDED: ≤ [[PqCodebook]] rows),
    * sorted by cb_k, elements promoted to double exactly as the
    * column form's cast("double") — float→double promotion is exact.
    * Round 16 (guide §1.2/§2.4): the codebook is a K-row table every
    * PQ verb previously re-read and re-broadcast once per subspace (8
    * BroadcastExchanges, 16 extra parquet scans per query); collected
    * once it rides the encode expression and the ADC lookup literals,
    * and the whole tier becomes map-side. */
  private def collectCodebook(cb: DataFrame): (Array[Int], Array[Array[Double]]) = {
    val rows = cb.select(col("cb_k"), col("cb_emb")).collect() // BOUNDED: ≤ PqCodebook rows
    val sorted = rows.map { r =>
      (r.getInt(0), r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case n: java.lang.Number => n.doubleValue
      }.toArray)
    }.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** One embedding collected to doubles (BOUNDED: one row). None when
    * the query row does not exist (empty corpus / unknown id) — the
    * crossJoin(broadcast(q)) forms this replaced produced an empty
    * result there, so callers early-return an empty frame. */
  private def collectVec(one: DataFrame): Option[Array[Double]] = {
    one.collect().headOption.map { r => // BOUNDED: one query row
      r.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case n: java.lang.Number => n.doubleValue
      }.toArray
    }
  }

  /** The ADC lookup tables for one query: luts(m)(cb_k) =
    * subDot(q, cb_k, m) — the same left-to-right double fold as the
    * column form, computed once on the driver (K×subspaces doubles). */
  private def adcLuts(qv: Array[Double], ks: Array[Int],
      cents: Array[Array[Double]]): Array[Array[Double]] = {
    val luts = Array.fill(PqSubspaces)(new Array[Double](ks.max + 1))
    var i = 0
    while (i < ks.length) {
      val c = cents(i)
      var m = 0
      while (m < PqSubspaces) {
        var acc = 0.0
        var j = 0
        while (j < PqSubDim) {
          val idx = m * PqSubDim + j
          acc = acc + qv(idx) * c(idx)
          j += 1
        }
        luts(m)(ks(i)) = acc
        m += 1
      }
      i += 1
    }
    luts
  }

  /** ADC score over per-subspace code columns: the deterministic
    * left-to-right add of 8 literal-LUT lookups (element_at is
    * codegen'd; codes index the literal arrays 1-based). */
  private def adcOverCodes(luts: Array[Array[Double]],
      code: Int => Column): Column =
    (1 until PqSubspaces).foldLeft(
      element_at(typedlit(luts(0).toSeq), code(0) + lit(1)))((acc, m) =>
      acc + element_at(typedlit(luts(m).toSeq), code(m) + lit(1)))

  /** Encode every vector: per subspace, the code of the nearest
    * centroid (squared L2, ties to the lower code). Round 16: the
    * argmin is the map-side [[graft.functions.PqEncode]] expression
    * over the driver-collected codebook — the old
    * crossJoin(broadcast(cb)) + min(struct) form materialized
    * |corpus|×K rows and paid TWO sort-based aggregates (min over
    * struct has no hash buffer) plus their exchange for what is a
    * pure per-row function; bit-identical codes, zero shuffles. */
  def pqEncode(e: DataFrame, cb: DataFrame): DataFrame = {
    val (ks, cents) = collectCodebook(cb)
    e.withColumn("codes",
        graft.functions.PqEncode(col("embedding"), ks, cents, PqSubspaces, PqSubDim))
      .select(Seq(col("vec_id"), col("label")) ++
        (0 until PqSubspaces).map(m =>
          element_at(col("codes"), m + 1).as(s"c$m")): _*)
  }

  /** V10 gate form: encode the corpus, rank by ADC against query 0 —
    * ONE corpus scan, encode and LUT lookups fused map-side, top-k as
    * TakeOrderedAndProject (before: 18 parquet scans, 8 LUT broadcast
    * joins, 2 sort-aggregates — a 112-operator plan). */
  def pqTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = embeddings(spark, dir)
    val (ks, cents) = collectCodebook(pqCodebook(e))
    val qvOpt = collectVec(
      e.filter(col("vec_id") === queryId).select(col("embedding")))
    if (qvOpt.isEmpty) // no query row (empty corpus): empty page
      return e.filter(lit(false))
        .select(col("vec_id"), col("label"), round(lit(0.0), 6).as("adc_r"))
    val luts = adcLuts(qvOpt.get, ks, cents)
    e.filter(col("vec_id") =!= queryId)
      .withColumn("codes",
        graft.functions.PqEncode(col("embedding"), ks, cents, PqSubspaces, PqSubDim))
      .withColumn("adc", adcOverCodes(luts, m => element_at(col("codes"), m + 1)))
      .orderBy(desc("adc"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("adc"), 6).as("adc_r"))
  }

  /** V10b: PQ shortlist + EXACT re-rank — the production composition
    * (FAISS's IndexRefine): ADC ranks the whole corpus from codes
    * alone, the top `shortlist` candidates are re-scored with the
    * full-precision inner product, and the final top-k comes from the
    * exact scores. Quantization error then costs recall only when the
    * true neighbor falls outside the shortlist entirely — measured on
    * this fixture's worst-case (near-uniform random) embeddings, the
    * re-rank lifts recall@10 from 5/10 to 8-9/10 at shortlist=50.
    * The refine reads `shortlist` float rows instead of the corpus —
    * at 32× code compression the scan stays memory-bound on codes. */
  def pqTopKReranked(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10, shortlist: Int = 50): DataFrame = {
    val e = embeddings(spark, dir)
    val short = pqTopK(spark, dir, queryId, shortlist).select(col("vec_id"))
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))
    e.join(short, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("ip", Vectors.dot(col("embedding"), col("q_emb")))
      .orderBy(desc("ip"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("ip"), 6).as("ip_r"))
  }

  /** V8: BATCH top-k — neighbors for a whole batch of query vectors in
    * ONE corpus scan. Production retrieval is batched (RAG corpus
    * builds, dedup-against-index, eval sweeps): scanning the corpus
    * once per query multiplies the dominant cost by |batch|, so the
    * batch crossJoins in as a broadcast and every corpus row scores
    * all queries in a single codegen stage.
    *
    * Per-query top-k is a rank-filtered window, NOT a driver loop —
    * and Spark 3.5+'s InferWindowGroupLimit rewrites the filter into a
    * WindowGroupLimit that prunes to k rows per query WITHIN each map
    * partition before the shuffle (the classic two-phase top-k,
    * derived by Catalyst rather than hand-built; PlanSpec asserts the
    * node is present). The final |queries|-partition window then ranks
    * |parts|·k survivors per query, not |corpus| — the skew a naive
    * per-query window would hit at 100 TB never materializes. */
  def batchTopK(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val e = embeddings(spark, dir)
    // disjoint query/corpus split on vec_id keeps the oracle a plain
    // predicate pair (queries never match themselves or each other)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), col("vec_id"))
    e.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("label"),
        round(col("sim"), 6).as("sim_r"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** V15: MMR diversity re-rank (Carbonell & Goldstein 1998) — the
    * classic fix for a result page the near-dup tiers explain: the
    * top-k by pure relevance is often k paraphrases of one answer.
    * MMR re-ranks a relevance shortlist greedily, each step taking
    * argmax of 0.7·rel(d) − 0.3·max_{s∈selected} sim(d, s) — high
    * relevance, penalized by similarity to what the page already has.
    *
    * Two-phase by construction, the serving shape: the corpus-sized
    * work (scoring all N against the query, exact top-`shortlist`)
    * runs distributed through the v1 plan; the greedy then runs on
    * the driver over the COLLECTED shortlist — a bounded constant
    * (`shortlist` rows) by construction, the same bounded-fetch class
    * as the probe frontiers, because MMR's selection is inherently
    * sequential (step t needs step t−1's pick) and O(k·S²) on ≤20
    * rows is not a distributed problem. Driver arithmetic mirrors the
    * engine/oracle cosine EXACTLY (same left-to-right double folds as
    * VecDot/cosSql, same 0.7·x − 0.3·y op order), so the whole greedy
    * is hash-checked against a DuckDB oracle that unrolls the k
    * selection rounds as generated CTE stages (the t8 discipline). */
  def mmrRerank(spark: SparkSession, dir: String, queryId: Long = 0L,
      shortlist: Int = 20, k: Int = 10): DataFrame =
    mmrRerankOf(embeddings(spark, dir), queryId, shortlist, k)

  private[graft] def mmrRerankOf(e: DataFrame, queryId: Long,
      shortlist: Int, k: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    val short: Array[(Long, Array[Float], Double)] = e
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("rel", Vectors.cosine(col("embedding"), col("qe")))
      .orderBy(desc("rel"), col("vec_id")).limit(shortlist)
      .select(col("vec_id"), col("embedding"), col("rel"))
      .collect() // BOUNDED: exactly `shortlist` rows by construction
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    mmrGreedy(short.toSeq, k).toDF("rnk", "vec_id", "mmr")
      .select(col("rnk"), col("vec_id"), round(col("mmr"), 6).as("mmr_r"))
      .orderBy(col("rnk"))
  }

  /** The sequential MMR greedy over a COLLECTED shortlist (bounded
    * rows by construction — selection step t needs step t−1's pick, so
    * this is inherently driver-side) — shared by v15 (vector
    * shortlist) and v15b (hybrid page). Same 0.7·rel − 0.3·maxsim op
    * order as the oracle's unrolled CTE stages. */
  private def mmrGreedy(short: Seq[(Long, Array[Float], Double)],
      k: Int): Seq[(Int, Long, Double)] = {
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val selEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    var remaining = short.toList
    var rnk = 1
    while (rnk <= k && remaining.nonEmpty) {
      val best = remaining.map { case (id, emb, rel) =>
        val msim = if (selEmb.isEmpty) 0.0
          else selEmb.map(s => cosDriver(emb, s)).max
        ((id, emb, rel), 0.7 * rel - 0.3 * msim)
      }.reduceLeft { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1._1 < x._1._1)) y else x
      }
      sel += ((rnk, best._1._1, best._2))
      selEmb += best._1._2
      remaining = remaining.filterNot(_._1 == best._1._1)
      rnk += 1
    }
    sel.toSeq
  }

  /** V15b: MMR diversity over the HYBRID page — the reference's actual
    * serving shape (app_old.py:64-162 pairs semantic hits with keyword
    * results: the page the user sees is the FUSED one, so that is the
    * page that must diversify, not the raw vector shortlist). Page
    * membership comes from v13b's indexed RRF fusion cut at
    * `shortlist`; the greedy's relevance is each page doc's
    * stub-embedding cosine to the query (defined for lexical-only docs
    * too — fusion can seat docs the semantic tier never ranked), and
    * the diversity penalty is pairwise stub cosine. StubEmbed's floats
    * are bit-identical to the oracle's md5-window derivation (integer
    * sums, one division, ordered-fold norm, CAST AS REAL), so the
    * whole composition — fusion, relevance, k greedy rounds — is
    * hash-checked end to end. Two-phase like v15: tiers and fusion run
    * distributed; the greedy collects exactly the fused page. */
  def mmrRerankHybrid(spark: SparkSession, dir: String,
      query: String = DefaultQuery, shortlist: Int = 20, k: Int = 10): DataFrame = {
    import spark.implicits._
    val page = hybridRrfIndexed(spark, dir, query, shortlist).select(col("doc_id"))
    val q = spark.range(1).select(graft.functions.StubEmbed(lit(query)).as("qe"))
    val short: Seq[(Long, Array[Float], Double)] = documents(spark, dir)
      .join(page, Seq("doc_id"), "left_semi")
      .withColumn("embedding", graft.functions.StubEmbed(col("text")))
      .crossJoin(broadcast(q))
      .withColumn("rel", Vectors.cosine(col("embedding"), col("qe")))
      .select(col("doc_id"), col("embedding"), col("rel"))
      .collect() // BOUNDED: the fused page, ≤ `shortlist` rows
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2))).toSeq
    mmrGreedy(short, k).toDF("rnk", "doc_id", "mmr")
      .select(col("rnk"), col("doc_id"), round(col("mmr"), 6).as("mmr_r"))
      .orderBy(col("rnk"))
  }

  /** Driver-side cosine, bit-identical to VecDot/cosSql: independent
    * left-to-right double accumulations for dot and both norms (FP
    * addition order within each accumulator matches the column fold),
    * denominator as √na·√nb, zero-denominator → 0 (Vectors.cosine's
    * guard). */
  private def cosDriver(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) {
      dot += a(j).toDouble * b(j).toDouble
      na += a(j).toDouble * a(j).toDouble
      nb += b(j).toDouble * b(j).toDouble
      j += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0) 0.0 else dot / denom
  }

  /** Embedding near-dup detection, IVF-style: compare only within a
    * coarse partition (label plays the centroid-assignment role), rank
    * pairs by cosine, keep the global top-k. At 100 TB the all-pairs
    * comparison is gated entirely by partition sizes — skew in a
    * partition is handled by sub-bucketing (LSH below) or AQE skew
    * splits. Top-k (not threshold) keeps the output stable across SFs. */
  def nearDupTopPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("label"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("label"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", Vectors.cosine(col("a_emb"), col("b_emb")))
      .orderBy(desc("sim"), col("a_id"), col("b_id"))
      .limit(k)
      .select(col("label"), col("a_id"), col("b_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** V2b: the skew escape hatch v2's scaladoc promises — when one label
    * block is disproportionately large, sub-bucket it by hyperplane LSH
    * signature so the all-pairs comparison runs within (label, bucket)
    * cells of ~1/2^planes the block size. Same sign-bucket derivation
    * as v3 (oracle in lockstep); pairs whose members land in different
    * buckets are sacrificed — the standard ANN recall-for-cost trade,
    * taken only for blocks that overflow an executor. */
  def nearDupTopPairsBucketed(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val dim = 64
    // shared: the scan + 4-plane projection feeds both self-join sides
    val e = shared(embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        lshBucket(col("embedding"), dim).as("bucket")))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("label"), col("bucket"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("label"), col("bucket"))
    val result = a.join(b, Seq("label", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", Vectors.cosine(col("a_emb"), col("b_emb")))
      .orderBy(desc("sim"), col("a_id"), col("b_id"))
      .limit(k)
      .select(col("label"), col("a_id"), col("b_id"), round(col("sim"), 6).as("sim_r"))
    materializeAndRelease(result, e)
  }

  /** Admission bar for v2c's quantized prefilter: sound as long as the
    * exact kth-best within-label cosine is ≥ this (fixture 20th-best is
    * 0.355; the operator REQUIRES the invariant at runtime — loud, not
    * lucky). */
  val QuantPrefilterTau = 0.3

  /** V2c: near-dup pairs with an int8-QUANTIZED candidate tier — the
    * composition of the v7 quantization ingest with v2's exact top-k,
    * kept EXACT by a provable error bound (hash-checked against v2's
    * own oracle).
    *
    * Bound (per-pair, FAISS-style stored correction): with
    * qᵢ = floor(127·uᵢ) and eᵢ = 127·uᵢ − qᵢ ∈ [0,1),
    *
    *   127²·cos(a,b) = S + Σ qaᵢ·ebᵢ + Σ qbᵢ·eaᵢ + Σ eaᵢ·ebᵢ
    *                 ≤ S + posᵃ + posᵇ + d
    *
    * where S is the integer dot product and pos = Σ max(qᵢ,0) is a
    * per-VECTOR correction computed once at quantization time (eᵢ < 1,
    * so Σqaᵢebᵢ ≤ posᵃ; eaᵢebᵢ < 1 per slot). A pair can reach
    * cos ≥ τ only if S + posᵃ + posᵇ + d ≥ 127²τ — everything below
    * that is pruned WITHOUT touching float data, and the bound makes
    * the pruning lossless (≈0.06 cosine slack at d=64, half the
    * generic ±2·127·√d bound because the correction is per-vector).
    *
    * Scale shape: the all-pairs label-blocked join — the expensive
    * stage — runs entirely on int8 (¼ the shuffle bytes of float32) +
    * one long; only SURVIVING pairs fetch their float vectors back by
    * id for exact scoring, so at 100 TB the float column is read for a
    * vanishing fraction of pairs. Soundness is conditional on the
    * admission bar τ₀ sitting at or below the true kth-best similarity;
    * the operator verifies that from its own k-row output and REFUSES
    * (require) rather than silently under-reporting — lower τ₀ (or fall
    * back to v2) if a corpus ever trips it. */
  def nearDupTopPairsQuantized(spark: SparkSession, dir: String, k: Int = 20,
      tau0: Double = QuantPrefilterTau): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val dim = 64
    val e = shared(embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.QuantizeVec(col("embedding")).as("q"))
      .filter(col("q").isNotNull)
      .withColumn("pos", aggregate(col("q"), lit(0L),
        (acc, x) => acc + greatest(x.cast("long"), lit(0L)))))
    // candidate tier: int8-only self-join within label blocks
    val qa = e.select(col("vec_id").as("a_id"), col("label"),
      col("q").as("qa"), col("pos").as("pos_a"))
    val qb = e.select(col("vec_id").as("b_id"), col("label"),
      col("q").as("qb"), col("pos").as("pos_b"))
    val cutScore = math.ceil(127.0 * 127.0 * tau0).toLong
    val cand = qa.join(qb, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .filter(graft.functions.VecDotInt(col("qa"), col("qb"))
        + col("pos_a") + col("pos_b") + lit(dim.toLong) >= cutScore)
      .select(col("label"), col("a_id"), col("b_id"))
    // exact re-rank: only survivors fetch their float vectors
    val fa = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val fb = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val result = cand
      .join(fa, Seq("a_id")).join(fb, Seq("b_id"))
      .withColumn("sim", Vectors.cosine(col("a_emb"), col("b_emb")))
      .orderBy(desc("sim"), col("a_id"), col("b_id"))
      .limit(k)
      .select(col("label"), col("a_id"), col("b_id"), round(col("sim"), 6).as("sim_r"))
    val out = materializeAndRelease(result, e)
    // soundness guard: with a full page, the admission bar must sit
    // at/below the kth-best similarity or the prefilter MAY have pruned
    // a top-k pair. A SHORT page means the corpus has fewer than k
    // candidates above the bar — pruned pairs could then belong in the
    // page, so fall back to the exact tier (degenerate corpora only;
    // the exact all-pairs cost is what the corpus size just proved
    // affordable).
    val sims = out.select(col("sim_r")).collect().map(_.getDouble(0))
    if (sims.length < k) return nearDupTopPairs(spark, dir, k)
    require(sims.min >= tau0,
      s"quantized prefilter admission bar tau0=$tau0 is not below the " +
        s"kth-best similarity (min ${sims.min}); " +
        "lower tau0 or use nearDupTopPairs (exact)")
    out
  }

  // 4 planes → 16 buckets: at 500-5000 vectors this keeps ~30-300
  // candidates per bucket, enough for a top-10 re-rank. Scale the plane
  // count with corpus size (buckets ≈ N / desired-candidates).
  val LshPlanes = 4

  /** Deterministic pseudo-random hyperplane matrix, computed once on the
    * driver: component j of plane p = first 8 md5 hex chars of "p:j",
    * parsed unsigned, mapped into [-0.5, 0.5). Identical to the oracle's
    * in-SQL derivation; shipping it as a literal array turns each plane
    * projection into one codegen'd VecDot instead of per-row md5 calls. */
  private[operators] def planeVector(p: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      val hex = md.digest(s"$p:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
  }

  /** LSH bucket signature: sign bit per hyperplane, packed to an int. */
  def lshBucket(emb: Column, dim: Int): Column = {
    (0 until LshPlanes).map { p =>
      val proj = Vectors.dot(emb, typedLit(planeVector(p, dim)))
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  val IvfCentroids = 8

  /** V5: IVF-style ANN with computed coarse centroids.
    *
    * Centroid selection is deterministic and engine-portable: the first
    * IvfCentroids vectors by vec_id act as coarse centroids (a real
    * deployment trains k-means offline; selection is orthogonal to the
    * search plan). Every vector is assigned to its max-cosine centroid
    * (IvfCentroids VecDots per row, all in the scan stage); search
    * probes only the query's cell — nprobe=1 of k cells ≈ 1/k of the
    * corpus touched per query, the inverted-file trade. Fully
    * oracle-checkable since assignment is plain argmax.
    */
  def ivfTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame =
    ivfTopKOf(embeddings(spark, dir), queryId, k)

  /** The ONE assignment argmax every IVF tier shares — broadcast the
    * (cent_id, cent_emb) table, score in the scan stage, keep the
    * argmax with the deterministic (csim desc, cent_id asc) tie-break.
    * v9d's losslessness proof (incremental assignment ≡ full rebuild)
    * rests on the append path and the build path running THIS code —
    * a drifted second copy would break append==rebuild equality on tie
    * cases while looking locally correct (round-9 review). */
  private def assignAgainst(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.cosine(col("embedding"), col("cent_emb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))

  /** The IVF assignment subtree, shared by v5 (search) and v6 (the
    * Lloyd re-estimation step): first-K-by-id centroids. */
  private def centroidAssignment(e: DataFrame): DataFrame =
    assignAgainst(e, e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb")))

  /** The corpus' cell MEMBERSHIP (vec_id → cent_id) — c9's
    * diversity-selection input, through the SAME assignment argmax as
    * every IVF tier (a drifted second copy is the round-9 review's
    * tie-case bug class). */
  private[graft] def cellAssignments(spark: SparkSession, dir: String): DataFrame =
    centroidAssignment(embeddings(spark, dir))
      .select(col("vec_id"), col("cent_id"))

  private[graft] def ivfTopKOf(e: DataFrame, queryId: Long, k: Int): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    // shared: the assignment (crossJoin + argmax window, the expensive
    // subtree) feeds both the query-cell lookup and the probe scan —
    // unpersisted it would be computed once per branch. In a real IVF
    // deployment the assignment is materialized to storage once, not
    // per query; this is the in-session analog.
    val assigned = shared(centroidAssignment(e))
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"), col("cent_id"))
    val result = assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), Seq("cent_id"))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_embedding")))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim_r"))
    materializeAndRelease(result, assigned)
  }

  /** Land the IVF index: the centroid assignment written PARTITIONED
    * BY CELL, so a probe reads one cell's directory and nothing else,
    * plus the centroid table itself under `_centroids/` (underscore
    * prefix → invisible to parquet discovery, the _metadata
    * convention) so probes rank cells without scanning the index.
    * This is the production half the v5 scaladoc defers to — the index
    * is built once at ingest, not per query. Returns the index path. */
  def materializeIvf(spark: SparkSession, dir: String, outPath: String): String =
    materializeIvfOf(embeddings(spark, dir), outPath)

  /** Frame-based index build — [[materializeIvf]] over any (vec_id,
    * label, embedding) frame; the spec suite lands planted-geometry
    * corpora through it. */
  private[graft] def materializeIvfOf(e: DataFrame, outPath: String): String = {
    writeIndex(centroidAssignment(e), outPath)
    e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .write.mode("overwrite").parquet(s"$outPath/_centroids")
    outPath
  }

  /** Land the assignment partitioned by cell — falling back to a plain
    * (schema-bearing) write when it is EMPTY: a partitioned write of
    * zero rows creates no data file at all, so the probe's read could
    * not infer the index schema and an empty corpus would throw
    * instead of returning an empty page (EmptyInputSpec). The isEmpty
    * check is one bounded job at ingest time. */
  private def writeIndex(assigned: DataFrame, outPath: String): Unit =
    if (assigned.isEmpty) assigned.write.mode("overwrite").parquet(outPath)
    else assigned.write.mode("overwrite").partitionBy("cent_id").parquet(outPath)

  /** V9/V9b: IVF probe over the LANDED index — read the query's top
    * `nprobe` cells and nothing else. Cells are ranked by
    * query-to-centroid cosine against the index's own `_centroids`
    * table (8 rows), so the probe set is an nprobe-row broadcast;
    * Spark's dynamic partition pruning turns the cell equi-join into a
    * partition filter on the index's cent_id directories, so the scan
    * reads ~nprobe/k of the corpus bytes off disk (SimilaritySpec
    * asserts the dynamicpruning expression in the plan, not just the
    * result). nprobe=1 probes exactly the query's assigned cell (the
    * cell argmax IS the top-ranked cell, same tie-break) — the gate
    * checks v9 against v5's oracle VERBATIM, proving the landed layout
    * changes bytes read, never results. nprobe=2 (v9b) is the recall
    * repair for boundary queries: a query near a Voronoi edge has its
    * true neighbors split across two cells, and at 100 TB cell counts
    * (thousands, not 8) nprobe=1 is a recall cliff — the second cell
    * costs one more pruned directory read, still never a corpus scan. */
  def ivfTopKOverIndex(spark: SparkSession, path: String,
      queryId: Long = 0L, k: Int = 10, nprobe: Int = 1,
      preFilter: Option[Column] = None): DataFrame = {
    val idx = Tables.parquet(spark, path)
    val cents = Tables.parquet(spark, s"$path/_centroids")
    val q = idx.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    val qcells = q.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.cosine(col("q_embedding"), col("cent_emb")))
      .orderBy(desc("csim"), col("cent_id"))
      .limit(nprobe)
      .select(col("cent_id"), col("q_embedding"))
    idx.filter(col("vec_id") =!= queryId)
      // v11's pre-filter seam: the metadata predicate lands here, on
      // the index scan BEFORE scoring, so it pushes to parquet and
      // composes with the cell DPP prune
      .filter(preFilter.getOrElse(lit(true)))
      .join(broadcast(qcells), Seq("cent_id"))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_embedding")))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim_r"))
  }

  /** Land the first-8-centroid index into session scratch once
    * (fingerprint-memoized) and return its path. */
  private[operators] def landIvf(spark: SparkSession, dir: String): String =
    Landing.scratch(spark, dir, "graft_ivf_idx", "embeddings.parquet")(
      materializeIvf(spark, dir, _))

  /** v9 gate form: land the index once, probe the query's cell. */
  def ivfLandedTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame =
    ivfTopKOverIndex(spark, landIvf(spark, dir), queryId, k)

  /** v9b gate form: the same landed index probed at nprobe=2. */
  def ivfLandedTopK2(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame =
    ivfTopKOverIndex(spark, landIvf(spark, dir), queryId, k, nprobe = 2)

  /** v11: FILTERED ANN — top-k under a metadata predicate, the
    * vector-store operation every RAG deployment hits ("nearest
    * neighbors among docs the user may read / in this language / from
    * this source"). The design decision that matters is PRE-filter:
    * the predicate is applied to the index scan BEFORE any scoring, so
    * (a) k survivors are guaranteed (post-filtering a top-k shortlist
    * returns < k when the predicate is selective — the classic recall
    * hole), and (b) the filter is a plain comparison that reaches the
    * parquet scan as a pushed filter (plan-asserted), composing with
    * the cell-directory DPP prune: the scan reads only the probed
    * cells' files AND skips row groups by the label stats.
    *
    * At 100 TB the contrast is stark: post-filter pays full scoring
    * over the probed cells then discards; pre-filter scores only the
    * qualifying fraction. A very selective predicate wants `nprobe`
    * raised — the v9b knob, which this form exposes. */
  def ivfFilteredTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, maxLabel: Int = 2, k: Int = 10,
      nprobe: Int = 2): DataFrame =
    ivfTopKOverIndex(spark, landIvf(spark, dir), queryId, k, nprobe,
      preFilter = Some(col("label") <= maxLabel))

  /** V6: one distributed k-means (Lloyd) iteration — the step v5's
    * scaladoc defers to ("a real deployment trains k-means offline").
    * Assignment reuses the v5 subtree (broadcast centroids, argmax in
    * the scan stage); re-estimation recomputes every centroid as the
    * member mean, per dimension.
    *
    * Plan shape at 100 TB: `posexplode` turns N vectors into N×dim
    * (cluster, dim, value) rows, but the groupBy's PARTIAL aggregate
    * collapses them to k×dim rows per task BEFORE the single exchange —
    * the map-side combine is what makes a wide-vector mean distributed;
    * the shuffle carries k×dim×tasks rows regardless of corpus size.
    * Iterated to convergence this is exactly k-means; one step is kept
    * here so the result stays a pure function of the fixture.
    *
    * Cross-engine portability: float→double widening is exact, so
    * `floor(v×1e6)` is the same long on both engines; longs sum
    * exactly in any order; the emitted mean divides two exact integers
    * as doubles (IEEE-identical in both engines). Means of raw doubles
    * would NOT hash-match — summation order differs. */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame =
    kmeansStepOf(embeddings(spark, dir))

  private[graft] def kmeansStepOf(e: DataFrame): DataFrame =
    centroidAssignment(e)
      .select(col("cent_id"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim_idx")
      .withColumn("ppm", floor(col("col").cast("double") * lit(1000000d)))
      .groupBy(col("cent_id"), col("dim_idx"))
      .agg((sum(col("ppm")).cast("double") / count(lit(1))).as("centroid_ppm"),
        count(lit(1)).as("n_members"))
      .orderBy(col("cent_id"), col("dim_idx"))

  /** V6b: Lloyd iterated to CONVERGENCE — v6's re-estimation step run
    * with the d7 iterative discipline: the centroid frame (k rows) is
    * localCheckpointed per round so lineage stays constant, the driver
    * carries ONLY the movement scalar (the loop-control value, exactly
    * like d7's changed-count), and empty cells keep their old centroid
    * instead of vanishing. Stops at movement ≤ epsPpm (default 0 = the
    * exact fixpoint: once assignment stops changing, the ppm means
    * recompute identically and movement is exactly 0.0) or maxIters
    * (with a loud stderr warning — an unconverged result is usable but
    * must not masquerade as a fixpoint).
    *
    * Numeric discipline (the v6 portability rules, applied round over
    * round): centroids live in the ppm domain — floor(v×1e6) longs sum
    * exactly in any order, one double division per component per round —
    * and cosine is scale-invariant, so ppm-domain centroids assign
    * identically to their real-valued counterparts. SimilaritySpec
    * asserts bit-exact fixpoint equality against a driver-side Lloyd
    * mirror (same fold order, same tie-breaks).
    *
    * Scale shape per round: one broadcast of k×dim doubles into the
    * assignment scan, one posexplode + partial agg BELOW the exchange
    * (shuffle carries k×dim×tasks rows, corpus-independent — v6's
    * plan), one k-row join for the empty-cell coalesce, one k-row
    * aggregate for the movement norm. Probed in ScaleProbe at fixed
    * rounds: per-round wall flat in corpus size. */
  def kmeansConverged(spark: SparkSession, dir: String,
      maxIters: Int = 20, epsPpm: Double = 0.0): DataFrame =
    kmeansConvergedOf(embeddings(spark, dir), maxIters, epsPpm)._1

  private[graft] def kmeansConvergedOf(e0: DataFrame, maxIters: Int,
      epsPpm: Double): (DataFrame, Int) = {
    val (cents, iter, e) = lloydLoop(e0, maxIters, epsPpm)
    val result = cents
      .select(col("cent_id"), col("n_members"), posexplode(col("cent_vec")))
      .select(col("cent_id"), col("pos").as("dim_idx"),
        col("col").as("centroid_ppm"), col("n_members"))
      .orderBy(col("cent_id"), col("dim_idx"))
    (CacheOps.materializeAndRelease(result, e), iter)
  }

  /** The Lloyd fixpoint loop (v6b's body). Returns the converged
    * centroid frame (cent_id, cent_vec in the ppm domain, n_members;
    * localCheckpointed), the round count, and the PERSISTED input the
    * caller must release. */
  private def lloydLoop(e0: DataFrame, maxIters: Int,
      epsPpm: Double): (DataFrame, Int, DataFrame) = {
    import CacheOps.shared
    val e = shared(e0.select(col("vec_id"), col("label"), col("embedding")))
    // initial centroids: the first IvfCentroids vectors, quantized into
    // the ppm domain so round 0 uses the same representation as every
    // later round (cosine is scale-invariant — assignment unchanged)
    var cents = e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"),
        expr("transform(embedding, v -> cast(floor(cast(v as double) * 1000000.0) as double))")
          .as("cent_vec"),
        lit(0L).as("n_members"))
      .localCheckpoint(true)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved > epsPpm) {
      val assigned = e
        .crossJoin(broadcast(cents.select(col("cent_id"), col("cent_vec"))))
        .withColumn("csim", Vectors.cosine(col("embedding"), col("cent_vec")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cent_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cent_id"))
      val est = assigned
        .select(col("cent_id"), posexplode(col("embedding")))
        .withColumnRenamed("pos", "dim_idx")
        .withColumn("ppm", floor(col("col").cast("double") * lit(1000000d)))
        .groupBy(col("cent_id"), col("dim_idx"))
        .agg((sum(col("ppm")).cast("double") / count(lit(1))).as("comp"),
          count(lit(1)).as("dim_n"))
      val estVec = est.groupBy(col("cent_id"))
        .agg(
          transform(array_sort(collect_list(struct(col("dim_idx"), col("comp")))),
            x => x.getField("comp")).as("new_vec"),
          max(col("dim_n")).as("new_n")) // every dim has the member count
      val next = cents
        .join(estVec, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("new_vec"), col("cent_vec")).as("cent_vec"),
          coalesce(col("new_n"), lit(0L)).as("n_members"),
          col("cent_vec").as("old_vec"))
        .localCheckpoint(true)
      // the ONLY driver-side value: max component movement in ppm
      // (null on an EMPTY centroid set — a zero-row corpus — which is
      // the fixpoint by definition)
      val movedRow = next
        .select(aggregate(zip_with(col("cent_vec"), col("old_vec"),
            (a, b) => abs(a - b)), lit(0.0), (acc, x) => greatest(acc, x)).as("m"))
        .agg(max(col("m"))).collect()(0)
      moved = if (movedRow.isNullAt(0)) 0.0 else movedRow.getDouble(0)
      cents = next.drop("old_vec")
      iter += 1
    }
    if (moved > epsPpm)
      System.err.println(
        f"[v6b] WARNING: Lloyd stopped at maxIters=$maxIters with movement $moved%.3f ppm > $epsPpm")
    (cents, iter, e)
  }

  /** Land the IVF index built from CONVERGED Lloyd centroids (round-8
    * verdict #5: first-8-by-id coarse centroids were the landed tier's
    * honest residual — kmeansConverged existed but was not wired into
    * the build). Same layout as [[materializeIvfOf]] (assignment
    * partitioned by cell + `_centroids/`); only the centroid table
    * differs. Centroids stay in the ppm domain — cosine is
    * scale-invariant, so they rank and assign exactly like their
    * real-valued counterparts (the v6b portability argument). */
  def materializeIvfTrained(spark: SparkSession, dir: String, outPath: String,
      maxIters: Int = 20): String = {
    val (cents, _, e) = lloydLoop(
      embeddings(spark, dir).select(col("vec_id"), col("label"), col("embedding")),
      maxIters, 0.0)
    val cv = cents.select(col("cent_id"), col("cent_vec").as("cent_emb"))
    writeIndex(assignAgainst(e, cv), outPath)
    cv.write.mode("overwrite").parquet(s"$outPath/_centroids")
    e.unpersist(true)
    outPath
  }

  /** The landed trained index's path, recorded at landing so the v9c
    * oracle can read the ARTIFACT'S OWN centroid table (the t11b
    * treatment: Lloyd's float iteration needn't be mirrored in SQL —
    * the oracle takes the landed `_centroids/` as input and
    * independently recomputes assignment, cell ranking, and scoring
    * from it). Oracle SQL is dumped AFTER all queries run (Verify's
    * order), so the path is always recorded by then; the landed dir
    * lives in /dev/shm scratch, which outlives the Spark JVM for the
    * driver's DuckDB pass. */
  @volatile private[graft] var trainedIndexPathForOracle: Option[String] = None

  /** v9c: nprobe=2 probe over the TRAINED landed index. Trained cells
    * follow the corpus geometry instead of the first 8 ids, so recall
    * at fixed nprobe can only improve (SimilaritySpec pins it ≥ the
    * first-8 tier's); the probe plan — and its dynamic partition
    * pruning — is identical to v9b's. */
  def ivfTrainedTopK2(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_trained", "embeddings.parquet")(
      materializeIvfTrained(spark, dir, _))
    trainedIndexPathForOracle = Some(path)
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** v9d support: append a day-2 delta into a landed IVF index WITHOUT
    * rebuilding. The delta assigns against the index's OWN `_centroids`
    * table — never recomputed, the invariant that makes incremental
    * assignment bit-equal to what a full rebuild would have produced —
    * and lands via mode=append partitionBy(cent_id): new files appear
    * INSIDE the existing cell directories, landed files are never
    * opened or rewritten (the s10b untouched-partition discipline,
    * spec-asserted by byte identity). At 100 TB this is the operation
    * that keeps an ANN index serving while the corpus grows: per-batch
    * cost is |delta| × K scoring plus |delta| rows written, independent
    * of index size.
    *
    * Idempotent per vector (round-11 recover-on-open audit): the index
    * IS the ledger — rows of the delta already landed are dropped by
    * an anti-join before the write, so a retried batch (crash after a
    * partial append, an at-least-once upstream) never duplicates. The
    * membership probe is BOUNDED: assignment is deterministic against
    * the index's fixed centroid table, so a re-delivered row can only
    * sit in the delta's own cells — the semi-join on cent_id prunes
    * the probe to those cell directories, never the index. */
  def ivfIndexAppend(spark: SparkSession, path: String, delta: DataFrame): Unit = {
    val assigned = assignAgainst(delta, Tables.parquet(spark, s"$path/_centroids"))
      .persist()
    try {
      val landed = Tables.parquet(spark, path)
        .join(broadcast(assigned.select(col("cent_id")).distinct()),
          Seq("cent_id"), "left_semi")
        .select(col("vec_id"))
      assigned.join(landed, Seq("vec_id"), "left_anti")
        .write.mode("append").partitionBy("cent_id").parquet(path)
    } finally { assigned.unpersist(true); () }
  }

  /** v9d's held-out delta — shared with the spec so the split the spec
    * byte-checks is always the split the operator ships. */
  private[graft] def incrementalHoldout: Column =
    col("vec_id") >= IvfCentroids && col("vec_id") % 5 === 4

  /** v9d gate form: land the index from the corpus MINUS a held-out
    * delta (every 5th vector above the centroid range), append the
    * delta through [[ivfIndexAppend]], probe at nprobe=2. Because the
    * centroid table is identical to the full build's (first 8 by id,
    * all in the base split) and the delta assigns against it, the
    * maintained index holds row-for-row what a full rebuild holds —
    * the probe answers to v9b's oracle VERBATIM, and the hash equality
    * proves append-maintenance lossless. */
  def ivfIncrementalTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_incr", "embeddings.parquet") { p =>
      val e = embeddings(spark, dir)
      materializeIvfOf(e.filter(!incrementalHoldout), p)
      ivfIndexAppend(spark, p, e.filter(incrementalHoldout))
    }
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** v9e's doomed set — every 7th vector above the centroid range.
    * Centroids are excluded by construction: removing a coarse
    * centroid is a re-train (v9c), not a row delete. Shared with the
    * spec and interpolated into the oracle so all three agree. */
  private[graft] def deletionDoomed: Column =
    col("vec_id") >= IvfCentroids && col("vec_id") % 7 === 6

  /** v9e support: DELETE rows from a landed index — the
    * right-to-be-forgotten path a training-data deployment must run
    * without a rebuild (takedown/opt-out requests against a serving
    * ANN index). Partition-scoped copy-on-write, the
    * mergeIntoPartitioned discipline: a columnar (vec_id, cent_id)
    * probe names the affected cells (bounded driver list, ≤ cell
    * count), ONLY those cell directories are scanned and rewritten
    * without the doomed rows, staged, then swapped through the
    * [[CommitProtocol]] seam; untouched cells are never opened. A cell
    * whose every row is doomed gets an EMPTY staged directory, so the
    * publish swaps its live contents away INSIDE the commit seam
    * (deleting it after commit would leave a crash window where the
    * log says committed but the doomed rows still serve — round-9
    * review). Returns the affected cell ids. */
  def ivfIndexDelete(spark: SparkSession, path: String, doomed: DataFrame,
      commit: CommitProtocol = RenameCommit): Seq[String] =
    Partitioned.deleteByKey(spark, path, "vec_id", "cent_id", doomed, commit)

  /** Per-cell data-file count above which [[ivfIndexMaintain]] fires.
    * Every append/CDC batch adds ≥1 fragment file per touched cell
    * (the v9d inside-the-dirs append), so the bound is the number of
    * inter-reclaim batches a cell tolerates; probes pay one task +
    * footer per file, which is what fragmentation degrades. */
  private[graft] val IvfReclaimFilesPerCell = 8

  /** Churn-triggered reclaim for the ANN index — bm25IndexMaintain's
    * IVF twin (round-13 verdict task #4). The lexical index reclaims
    * TOMBSTONE mass; the IVF index carries none (v9e deletes rewrite
    * affected cells copy-on-write), so its churn is FRAGMENTATION:
    * v9d/CDC appends add fragment files inside cell dirs forever. The
    * trigger is a LISTING-ONLY bound (zero data bytes — file counts
    * per cell dir, the footerRows discipline without even the
    * footers): when any cell's data-file count exceeds
    * `maxFilesPerCell`, the fragmented cells rewrite to one file each
    * through [[Partitioned.compact]]'s stage-and-rename seam (readers
    * never observe a half-compacted cell; already-compact cells are
    * never opened). A deferred call is a listing no-op — the cadence
    * policy CDC/stream front doors can run after every batch.
    * Returns the compacted cell partition values (empty = deferred).
    * Answer-preserving by construction: compaction moves rows, never
    * changes them (v9b/v9d/v9e/v9f oracles hash-equal post-reclaim,
    * spec-asserted). */
  def ivfIndexMaintain(spark: SparkSession, path: String,
      maxFilesPerCell: Int = IvfReclaimFilesPerCell): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    val overFull = fs.listStatus(base).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("cent_id=") &&
        Partitioned.dataFiles(fs, st.getPath).length > maxFilesPerCell
    }
    if (!overFull) Nil // deferred: listing-only, no data bytes read
    else Partitioned.compact(spark, path, "cent_id")
  }

  /** v9e gate form: land the FULL index, delete the doomed set through
    * [[ivfIndexDelete]], probe at nprobe=2. The oracle is v9b's probe
    * SQL over `embeddings` MINUS the doomed predicate — hash equality
    * proves the partition-scoped delete leaves exactly what a rebuild
    * over the filtered corpus would hold. */
  def ivfDeletedTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_del", "embeddings.parquet") { p =>
      materializeIvf(spark, dir, p)
      ivfIndexDelete(spark, p,
        embeddings(spark, dir).filter(deletionDoomed).select(col("vec_id")))
    }
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** The derived next-release EMBEDDING snapshot — SnapshotDiff's
    * nextRelease (SnapshotDiff.scala:65) lifted to the vector corpus,
    * exercising all three mutation kinds with the same md5-bucket
    * derivation the s19 oracle mirrors. Rows below [[IvfCentroids]]
    * never mutate (removing a coarse centroid is a re-train, the v9e
    * rule; the query vector 0 stays stable for the probe). Updated
    * rows REVERSE their embedding — an exact, engine-portable
    * transform (array reversal moves floats, never computes with
    * them) that genuinely changes the vector's direction. Added rows
    * are twins at vec_id + AddOffset. */
  private[graft] def nextEmbeddingRelease(e: DataFrame): DataFrame = {
    val b = pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("bigint"), lit(SnapshotDiff.DeriveBuckets.toLong))
    val mutable = col("vec_id") >= IvfCentroids
    val kept = e.filter(!mutable || b =!= 0)
      .withColumn("embedding",
        when(mutable && b === 1, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val added = e.filter(mutable && b === 2)
      .withColumn("vec_id", col("vec_id") + SnapshotDiff.AddOffset)
    kept.unionByName(added)
  }

  /** V9f: CDC-to-serving-index — the release loop CLOSED over the ANN
    * tier (round-10 verdict task #2). A corpus release lands as a
    * changelog ([[SnapshotDiff.changelog]], the s19 machinery), and the
    * changelog applies to the LANDED index through the existing
    * maintenance verbs instead of a rebuild: deleted + updated keys go
    * through [[ivfIndexDelete]] (partition-scoped copy-on-write, only
    * affected cells rewrite), inserted + updated rows come back through
    * [[ivfIndexAppend]] (assign against the index's own centroids,
    * append inside cell dirs). The oracle is v9b's probe SQL over the
    * v2 corpus derived DIRECTLY — hash equality proves
    * changelog-apply ≡ rebuild at the serving tier, the s19b argument
    * lifted from snapshots to indexes. At 100 TB this is the nightly
    * release path: cost tracks |changes| × (affected cells + append
    * rows), never the index size. */
  def ivfCdcTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_cdc", "embeddings.parquet") { p =>
      val v1 = embeddings(spark, dir)
      materializeIvf(spark, dir, p)
      // change-sized and consumed twice (delete keys + append rows)
      val log = SnapshotDiff.changelog(v1, nextEmbeddingRelease(v1),
        Seq("vec_id"), Seq("embedding", "label")).localCheckpoint(true)
      ivfIndexDelete(spark, p,
        log.filter(col("op").isin("deleted", "updated")).select(col("vec_id")))
      ivfIndexAppend(spark, p,
        log.filter(col("op") =!= "deleted")
          .select(col("vec_id"), col("label"), col("embedding")))
      // reclaim cadence at the release loop's tail: the churn a CDC
      // apply accumulates (delete rewrite + append fragment per
      // affected cell) fires the per-cell compaction itself when it
      // crosses the listing-only bound
      ivfIndexMaintain(spark, p)
      ()
    }
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** V9g: the ANN index through a full churn-and-reclaim cycle —
    * [[ivfIndexMaintain]]'s gate form (round-13 verdict task #4). The
    * v9d holdout drips in as MANY small appends (one fragment file per
    * touched cell per append — the shape a long-running st6 stream
    * leaves), pushing cells past [[IvfReclaimFilesPerCell]]; the
    * maintenance verb then fires and rewrites the fragmented cells to
    * one file each. The probe answers v9b's oracle VERBATIM — hash
    * equality proves the reclaim moved rows without changing any,
    * which is the entire contract of a compaction. The landing
    * REQUIRES the cycle to have fired (a deferred reclaim would make
    * this query v9d with extra steps). */
  def ivfMaintainedTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_maint", "embeddings.parquet") { p =>
      val e = embeddings(spark, dir)
      materializeIvfOf(e.filter(!incrementalHoldout), p)
      // holdout ids are ≡4 (mod 5), so slice on (vec_id div 5) — a
      // plain vec_id % slivers split would leave most slivers empty
      val slivers = IvfReclaimFilesPerCell + 4
      (0 until slivers).foreach { i =>
        ivfIndexAppend(spark, p,
          e.filter(incrementalHoldout &&
            expr(s"(vec_id div 5) % $slivers") === i))
      }
      val reclaimed = ivfIndexMaintain(spark, p)
      require(reclaimed.nonEmpty,
        s"the v9g drip must cross the reclaim bound (got deferred at $p)")
    }
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** ST6 gate form: land the index from the corpus MINUS the v9d
    * holdout, stream the holdout in as two single-file micro-batches
    * through [[graft.streaming.IndexStream.ivfIndexIngest]], probe at
    * nprobe=2. Answers v9b's oracle VERBATIM — hash equality proves
    * the stream-maintained ANN index equals a batch rebuild regardless
    * of micro-batching (the st4 argument for the vector tier). */
  def ivfStreamedTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val path = Landing.scratch(spark, dir, "graft_ivf_stream", "embeddings.parquet") { p =>
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a re-landing (regenerated fixture) must forget the previous
      // stream's progress or the drained files would be skipped
      fs.delete(new org.apache.hadoop.fs.Path(s"${p}_checkpoint"), true)
      val e = embeddings(spark, dir)
      materializeIvfOf(e.filter(!incrementalHoldout), p)
      val incoming = s"${p}_incoming"
      val hold = e.filter(incrementalHoldout)
      // two single-file writes → two micro-batches at
      // maxFilesPerTrigger=1 (deterministic batching; the final index
      // is batching-invariant anyway)
      hold.filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(incoming)
      hold.filter(col("vec_id") % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(incoming)
      val q = graft.streaming.IndexStream.ivfIndexIngest(
        spark, incoming, p, s"${p}_checkpoint")
      // stop in finally: a foreachBatch failure must not leak a zombie
      // query that a retrying landing would then race
      try q.processAllAvailable() finally q.stop()
    }
    ivfTopKOverIndex(spark, path, queryId, k, nprobe = 2)
  }

  /** Land the IVF+PQ index — the billion-scale composition (FAISS
    * IndexIVFPQ): each assignment row carries its PQ codes (c0..c7)
    * NEXT TO its cell id and full-precision vector, partitioned by
    * cell, with `_centroids/` and `_codebook/` side tables. The probe
    * then composes BOTH compressions: the cell prune reads ~nprobe/K of
    * the corpus DIRECTORIES, and within the probed cells the ADC pass
    * projects only the 8 int code columns — parquet's columnar layout
    * means the float vectors are not read until the exact re-rank
    * touches `shortlist` rows. Codebook and coarse centroids reuse the
    * first-K-by-id selection rule so the whole tier stays
    * SQL-expressible and driver-hash-checked (swap kmeans-trained
    * tables through the same frames for production, as
    * [[materializeIvfTrained]] does for the coarse quantizer). */
  def materializeIvfPq(spark: SparkSession, dir: String, outPath: String): String = {
    val e = embeddings(spark, dir)
    val cb = pqCodebook(e)
    val codes = pqEncode(e, cb).drop("label")
    writeIndex(centroidAssignment(e).join(codes, Seq("vec_id")), outPath)
    e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .write.mode("overwrite").parquet(s"$outPath/_centroids")
    cb.write.mode("overwrite").parquet(s"$outPath/_codebook")
    outPath
  }

  /** v12 probe: rank cells against `_centroids` (nprobe-row broadcast,
    * DPP-pruned directory read), ADC-score the probed cells from codes
    * alone (8 broadcast LUT joins, left-to-right add — the v10
    * discipline), exact-re-rank the ADC shortlist with the full inner
    * product (the v10b refine). Nothing outside the probed cells is
    * ever read, and the probed cells' floats are only read for the
    * shortlist rows. */
  def ivfPqTopKOverIndex(spark: SparkSession, path: String,
      queryId: Long = 0L, k: Int = 10, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame = {
    val idx = Tables.parquet(spark, path)
    val cents = Tables.parquet(spark, s"$path/_centroids")
    val q = idx.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val qcells = q.crossJoin(broadcast(cents))
      .withColumn("csim", Vectors.cosine(col("q_emb"), col("cent_emb")))
      .orderBy(desc("csim"), col("cent_id"))
      .limit(nprobe)
      .select(col("cent_id"))
    // ADC from the stored codes with the per-query LUT as 8 literal
    // arrays (round 16): the 8-broadcast-LUT-join form re-read the
    // codebook and the query row once per subspace; the literal form
    // reads each ONCE (bounded driver collects) and the probed scan
    // scores map-side — same left-to-right double adds, zero extra
    // exchanges
    val (ks, cbMat) = collectCodebook(Tables.parquet(spark, s"$path/_codebook"))
    val qvOpt = collectVec(q) // BOUNDED: one row
    if (qvOpt.isEmpty) // no query row (empty landing): empty page
      return idx.filter(lit(false))
        .select(col("vec_id"), col("label"), round(lit(0.0), 6).as("ip_r"))
    val luts = adcLuts(qvOpt.get, ks, cbMat)
    val short = idx.filter(col("vec_id") =!= queryId)
      .select(Seq(col("vec_id"), col("cent_id")) ++
        (0 until PqSubspaces).map(m => col(s"c$m")): _*)
      .join(broadcast(qcells), Seq("cent_id"))
      .withColumn("adc", adcOverCodes(luts, m => col(s"c$m")))
      .orderBy(desc("adc"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))
    // refine scan rides the SAME qcells join as the ADC pass so DPP
    // prunes it to the probed cell directories too — a bare vec_id
    // semi-join would read every cell's float vectors, nullifying the
    // prune exactly where the bytes are biggest (shortlist ⊆ probed
    // cells, so the extra cent_id join drops nothing)
    idx.join(broadcast(qcells), Seq("cent_id"))
      .join(broadcast(short), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("ip", Vectors.dot(col("embedding"), col("q_emb")))
      .orderBy(desc("ip"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("ip"), 6).as("ip_r"))
  }

  /** v12 gate form: land the IVF+PQ index once, probe at nprobe=2 with
    * an ADC shortlist of 50. */
  def ivfPqTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame =
    ivfPqTopKOverIndex(spark, ivfPqLandedPath(spark, dir), queryId, k)

  private def ivfPqLandedPath(spark: SparkSession, dir: String): String =
    Landing.scratch(spark, dir, "graft_ivfpq_idx", "embeddings.parquet")(
      materializeIvfPq(spark, dir, _))

  /** TRAINED PQ codebook — converged Lloyd per SUBSPACE (round-10
    * verdict task #5: v10/v12 shipped first-32-by-id codebooks while
    * kmeansConverged sat unwired). Each of the [[PqSubspaces]]
    * subspaces trains its own [[PqCodebook]]-entry quantizer over the
    * corpus' subvectors under squared L2 (the PQ objective, Jégou et
    * al. 2011); all subspaces iterate in ONE loop — subspace is just a
    * key, so a round is one broadcast-join assignment (8×32 = 256
    * centroid rows) plus one partial-agged mean, never 8 sequential
    * jobs. Determinism: subvector components quantize to ppm integers
    * at extraction, so every shuffle-crossing sum is exact integer
    * arithmetic; the mean's single division and the L2 folds are
    * fixed-order doubles (the lloydLoop discipline). Init = the
    * first-PqCodebook-by-id subvectors (the untrained tier as round
    * 0). Returns the [[pqCodebook]] SHAPE — 32 rows of 64-dim arrays,
    * subspace m's centroid k living in slice [m·8, m·8+8) scaled back
    * to the raw domain — so [[pqEncode]], the LUT build, and the ADC
    * fold are REUSED verbatim: each subspace only ever reads its own
    * slice. */
  private[graft] def pqCodebookTrained(e0: DataFrame,
      maxIters: Int = 20): DataFrame = {
    import CacheOps.shared
    // (vec_id, m, sv: array<bigint>[PqSubDim]) in the ppm-integer domain
    val sv = shared(e0.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${PqSubspaces - 1}), m -> struct(
              m AS m,
              transform(sequence(0, ${PqSubDim - 1}), j ->
                cast(floor(cast(element_at(embedding, m * $PqSubDim + j + 1) as double)
                  * 1000000.0) as bigint)) AS sv))""")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv")))
    var cents = sv.filter(col("vec_id") < PqCodebook)
      .select(col("m"), col("vec_id").cast("int").as("cb_k"),
        expr("transform(sv, v -> cast(v as double))").as("cvec"))
      .localCheckpoint(true)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIters && moved > 0.0) {
      val assigned = sv.join(broadcast(cents), Seq("m"))
        .withColumn("d", expr(
          """aggregate(zip_with(sv, cvec, (a, b) ->
               (cast(a as double) - b) * (cast(a as double) - b)),
             0.0d, (acc, x) -> acc + x)"""))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d"), col("cb_k"), col("sv"))).as("s"))
        .select(col("m"), col("s.cb_k").as("cb_k"), col("s.sv").as("sv"))
      // exact integer sums cross the exchange; ONE division per component
      val est = assigned.select(col("m"), col("cb_k"), posexplode(col("sv")))
        .groupBy(col("m"), col("cb_k"), col("pos"))
        .agg((sum(col("col")).cast("double") / count(lit(1))).as("comp"))
        .groupBy(col("m"), col("cb_k"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
          x => x.getField("comp")).as("new_vec"))
      val next = cents.join(est, Seq("m", "cb_k"), "left")
        .select(col("m"), col("cb_k"),
          coalesce(col("new_vec"), col("cvec")).as("cvec"), // empty code keeps its centroid
          col("cvec").as("old_vec"))
        .localCheckpoint(true)
      val movedRow = next.select(aggregate(zip_with(col("cvec"), col("old_vec"),
          (a, b) => abs(a - b)), lit(0.0), (acc, x) => greatest(acc, x)).as("mv"))
        .agg(max(col("mv"))).collect()(0)
      moved = if (movedRow.isNullAt(0)) 0.0 else movedRow.getDouble(0)
      cents = next.drop("old_vec")
      iter += 1
    }
    if (moved > 0.0)
      System.err.println(
        f"[v12b] WARNING: PQ Lloyd stopped at maxIters=$maxIters with movement $moved%.3f ppm")
    val out = cents.groupBy(col("cb_k"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cvec")))),
        x => x.getField("cvec")).as("vecs"))
      .select(col("cb_k"),
        expr("transform(flatten(vecs), v -> v / 1000000.0)").as("cb_emb"))
    CacheOps.materializeAndRelease(out, sv)
  }

  /** The landed trained-PQ index's path, recorded for the v12b/v16b
    * oracles (the v9c artifact-as-input treatment: Lloyd's float
    * iteration is not mirrored in SQL — the oracle reads the landed
    * `_codebook/` and independently recomputes encode, LUT, ADC and
    * re-rank from it). */
  @volatile private[graft] var pqTrainedPathForOracle: Option[String] = None

  /** Land the IVF+PQ index with TRAINED codebooks — [[materializeIvfPq]]
    * with [[pqCodebookTrained]] swapped through the same frames (the
    * seam its scaladoc promised). Coarse centroids stay first-8
    * (training them is v9c's tier); only the subspace quantizers
    * change. */
  def materializeIvfPqTrained(spark: SparkSession, dir: String,
      outPath: String): String = {
    val e = embeddings(spark, dir)
    val cb = pqCodebookTrained(e)
    val codes = pqEncode(e, cb).drop("label")
    writeIndex(centroidAssignment(e).join(codes, Seq("vec_id")), outPath)
    e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      .write.mode("overwrite").parquet(s"$outPath/_centroids")
    cb.write.mode("overwrite").parquet(s"$outPath/_codebook")
    outPath
  }

  /** v12b gate form: land the trained-codebook IVF+PQ index once,
    * probe with v12's exact plan — only the codebook table differs. */
  def ivfPqTrainedTopK(spark: SparkSession, dir: String,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    ivfPqTopKOverIndex(spark, ivfPqTrainedLandedPath(spark, dir), queryId, k)
  }

  private def ivfPqTrainedLandedPath(spark: SparkSession, dir: String): String = {
    val path = Landing.scratch(spark, dir, "graft_ivfpq_trained", "embeddings.parquet")(
      materializeIvfPqTrained(spark, dir, _))
    pqTrainedPathForOracle = Some(path)
    path
  }

  /** The flagship retrieval query string — shared by v4, x7c and their
    * oracles (interpolated into the SQL so both engines embed the SAME
    * tokens). */
  val DefaultQuery = "customer order filter join"

  /** X5/§3.3: the RAG retrieval core — semantic document search with the
    * deterministic stub embedder. Documents embed in the scan stage (one
    * StubEmbed expression per row); the query string embeds into a 1-row
    * broadcast; cosine top-k re-ranks. Swapping StubEmbed for a real
    * model keeps this plan identical. Oracle-checked end to end since
    * round 6: StubEmbed's md5-window derivation is mirrored
    * component-for-component in DuckDB (SparkEntry's stubSearchSql), so
    * the driver hash proves the whole retrieval tier, not just rows. */
  def semanticSearch(spark: SparkSession, dir: String,
      query: String = DefaultQuery, k: Int = 10): DataFrame =
    semanticScoredTop(documents(spark, dir), query, k)
      .select(col("doc_id"), col("lang"), round(col("sim"), 6).as("sim_r"),
        substring(col("text"), 1, 60).as("preview"))

  /** The shared semantic tier: stub-embed the corpus and the query,
    * cosine-score, keep the top k (sim desc, doc_id tie-break) with
    * every input column plus full-precision `sim`. One definition
    * serves v4's page and v13's fusion input so the two can never
    * silently diverge on embedder or tie-break. */
  private def semanticScoredTop(docs: DataFrame, query: String, k: Int): DataFrame = {
    val q = docs.sparkSession.range(1)
      .select(graft.functions.StubEmbed(lit(query)).as("q_embedding"))
    docs
      .withColumn("embedding", graft.functions.StubEmbed(col("text")))
      .crossJoin(broadcast(q))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_embedding")))
      .orderBy(desc("sim"), col("doc_id"))
      .limit(k)
  }

  /** The reciprocal-rank-fusion constant: RRF's folklore k=60 makes a
    * rank-r vote worth 1/(60+r). Exactness: with both tiers cut at
    * k=10, every denominator lies in 61..70, so scaling by their lcm
    * turns each vote into the exact integer RrfLcm/(60+r) — integral
    * division, bit-identical in Spark and DuckDB, no float sums. */
  private[graft] val RrfLcm: Long = 142813628717760L // lcm(61..70)

  /** V13: hybrid retrieval — the reference's actual search product
    * (app_old.py:64-162 runs Pinecone semantic hits NEXT TO keyword
    * analytics and lets GPT reconcile). Here the two tiers fuse
    * engine-side with reciprocal-rank fusion (Cormack et al. 2009,
    * public method): semantic = the v4 stub-embedder cosine top-k,
    * lexical = the t11 BM25 top-k over the SAME query string; each
    * tier votes RrfLcm/(60+rank) for its page (0 = not retrieved by
    * that tier), votes sum as exact integers.
    *
    * Plan shape for 100 TB: one lazy plan, one SQL execution. The
    * semantic tier is a top-k over one corpus scan; the lexical tier
    * is the t11 plan, whose stats pass and score pass each scan the
    * corpus once and split every document once (the TermCounts
    * kernel) — nothing is persisted. The fusion join touches two
    * ≤k-row frames — rank windows and the full-outer join are
    * post-top-k, never corpus-sized. */
  def hybridRrf(spark: SparkSession, dir: String,
      query: String = DefaultQuery, k: Int = 10): DataFrame = {
    // precondition: the lexical tier needs tokens to rank by — fail
    // loudly rather than fusing a semantic page with a vacuous tier
    val terms = TextOps.bm25TermsOf(query)
    require(terms.nonEmpty,
      "hybrid retrieval needs a query with at least one token")
    val docs = documents(spark, dir)
    val semTop = semanticScoredTop(docs, query, k).select(col("doc_id"), col("sim"))
    // rank windows run over ≤k rows (post-limit) — a single tiny
    // partition, not a corpus sort
    val sem = semTop.select(col("doc_id"),
      row_number().over(Window.orderBy(desc("sim"), col("doc_id"))).as("r_sem"))
    val lexTop = TextOps.bm25ScoredOf(docs, terms)
      .filter(col("score_milli") > 0) // a tier only votes for docs it matched
      .orderBy(desc("score_milli"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("score_milli"))
    fuseRrf(sem, lexTop, k)
  }

  /** V13b: the same fusion with the LEXICAL tier served from the
    * landed inverted index (t11b's bucket-pruned probe) — the
    * production serving composition: one page from the stub-embedder
    * scan, one from posting-bucket reads, fused in exact vote units.
    * Answers v13's oracle VERBATIM — hash equality proves the landed
    * lexical tier drops into the fusion unchanged. */
  def hybridRrfIndexed(spark: SparkSession, dir: String,
      query: String = DefaultQuery, k: Int = 10): DataFrame = {
    val terms = TextOps.bm25TermsOf(query)
    require(terms.nonEmpty,
      "hybrid retrieval needs a query with at least one token")
    val semTop = semanticScoredTop(documents(spark, dir), query, k)
      .select(col("doc_id"), col("sim"))
    val sem = semTop.select(col("doc_id"),
      row_number().over(Window.orderBy(desc("sim"), col("doc_id"))).as("r_sem"))
    val lexPage = TextOps.bm25IndexedPage(spark, dir, terms, k)
      .select(col("doc_id"), col("score_milli"))
    fuseRrf(sem, lexPage, k)
  }

  /** RRF fusion of a ranked semantic frame (doc_id, r_sem) with a
    * lexical page (doc_id, score_milli, ≤k rows, matching docs only)
    * — shared by the scan-path (v13) and indexed (v13b) hybrids. */
  private def fuseRrf(sem: DataFrame, lexPage: DataFrame, k: Int): DataFrame = {
    val lex = lexPage.select(col("doc_id"),
      row_number().over(Window.orderBy(desc("score_milli"), col("doc_id"))).as("r_lex"))
    sem.join(lex, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_sem"), lit(0)).as("r_sem"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        (coalesce(expr(s"$RrfLcm div (60 + r_sem)"), lit(0L)) +
          coalesce(expr(s"$RrfLcm div (60 + r_lex)"), lit(0L))).as("rrf_units"))
      .orderBy(desc("rrf_units"), col("doc_id")).limit(k)
      .orderBy(col("doc_id"))
  }

  /** V14: late-interaction multi-vector retrieval — ColBERT's MaxSim
    * (Khattab & Zaharia 2020, SIGIR; public method). Instead of one
    * vector per document (v4's bag-of-words collapse), every token
    * keeps its own embedding and the query-document score is
    * Σ_{q∈Q} max_{t∈doc} cos(E(q), E(t)) — fine-grained term matching
    * with vector semantics. With the deterministic stub embedder a
    * token's vector depends only on its string, so per-doc DISTINCT
    * tokens suffice (duplicate occurrences share a vector; max
    * collapses them).
    *
    * Plan shape for 100 TB: doc tokens explode and embed in the scan
    * stage (one StubEmbed per distinct-token occurrence — no
    * vocabulary-sized join or state); the query's ≤|Q| vectors
    * broadcast; per-term maxima fold in ONE partial-aggregated
    * groupBy(doc_id) whose per-term max COLUMNS keep the final sum a
    * fixed-order double chain (m0+m1+…) — a plain sum-of-max over an
    * exploded frame would re-associate doubles shuffle-order-
    * dependently and break the cross-engine hash. Top-k is
    * TakeOrderedAndProject; lang rides the fold's group key (it is
    * functionally dependent on doc_id), so the page needs no second
    * corpus scan. */
  def colbertMaxsim(spark: SparkSession, dir: String,
      query: String = DefaultQuery, k: Int = 10): DataFrame =
    colbertMaxsimOf(documents(spark, dir), query, k)

  /** Frame-based form of [[colbertMaxsim]] — spec entry point. */
  private[graft] def colbertMaxsimOf(docs: DataFrame, query: String, k: Int): DataFrame = {
    val qtoks = TextOps.bm25TermsOf(query)
    require(qtoks.nonEmpty, "maxsim needs at least one query token")
    val spark = docs.sparkSession
    // lang rides the exploded frame and the groupBy key (functionally
    // dependent on doc_id — same shuffle cardinality), so the page
    // never needs a second corpus scan to re-attach it (round-9 review)
    val docToks = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(TextOps.tokens(lower(col("text"))))).as("tok"))
      .withColumn("tvec", graft.functions.StubEmbed(col("tok")))
    val qframe = {
      import spark.implicits._
      qtoks.toDF("qtok").withColumn("qvec", graft.functions.StubEmbed(col("qtok")))
    }
    val maxCols = qtoks.zipWithIndex.map { case (t, i) =>
      max(when(col("qtok") === t, col("cs"))).as(s"m$i")
    }
    val scored = docToks.crossJoin(broadcast(qframe))
      .withColumn("cs", Vectors.cosine(col("tvec"), col("qvec")))
      .groupBy(col("doc_id"), col("lang"))
      .agg(maxCols.head, maxCols.tail: _*)
      .withColumn("sim", qtoks.indices.map(i => col(s"m$i")).reduce(_ + _))
    scored.orderBy(desc("sim"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("lang"), round(col("sim"), 6).as("maxsim_r"))
      .orderBy(col("doc_id"))
  }

  /** ANN top-k via random-hyperplane LSH: candidates share the query's
    * bucket; exact cosine re-ranks within the bucket. Approximate —
    * recall vs the brute-force baseline is asserted in the test suite.
    * At scale the bucket id becomes the shuffle/partition key, so each
    * query touches 1/2^planes of the corpus. */
  def lshTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame =
    lshTopKOf(embeddings(spark, dir), dim = 64, queryId, k)

  private[graft] def lshTopKOf(e0: DataFrame, dim: Int, queryId: Long, k: Int): DataFrame = {
    val e = e0.withColumn("bucket", lshBucket(col("embedding"), dim))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"), col("bucket"))
    e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), Seq("bucket"))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_embedding")))
      .orderBy(desc("sim"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim_r"))
  }

  /** V16: ANN recall@k — the eval harness every approximate tier in
    * this library reports to in production: run the SAME query batch
    * through the exact scorer (v8's plan) and the IVF probe (v5's
    * plan), and emit per-query overlap — n_hit of k, with the ANN
    * candidate count alongside so a thin cell (n_ann < k) is visible
    * as the recall ceiling it is. An index whose recall silently
    * drifts (after appends, deletes, re-training) is how a retrieval
    * tier rots; this is the query that catches it, and it composes
    * from two already-oracle-checked plans, so the measurement itself
    * is hash-verified.
    *
    * Scale shape: both rankings share ONE persisted assignment frame;
    * the query batch broadcasts into each (the v8 rule); per-query
    * top-k rides a WindowGroupLimit-truncated window keyed by
    * query_id. The overlap join is two k·|queries|-row frames —
    * driver-free, so the eval runs as a scheduled job over any query
    * log sample at any corpus size. Integer output only: recall_ppm
    * = n_hit·10⁶ div k. */
  def annRecallAtK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val assigned = shared(centroidAssignment(embeddings(spark, dir)))
    val qs = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cent_id").as("q_cell"))
    val corpus = assigned.filter(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), col("vec_id"))
    val exact = corpus.crossJoin(broadcast(qs))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_emb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"))
    val ann = shared(corpus.join(broadcast(qs), corpus("cent_id") === qs("q_cell"))
      .withColumn("sim", Vectors.cosine(col("embedding"), col("q_emb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id")))
    val annCnt = ann.groupBy(col("query_id")).agg(count(lit(1)).as("n_ann"))
    val hits = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val out = qs.select(col("query_id"))
      .join(annCnt, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        // integral `div`, matching the oracle's `//` bit-for-bit: float
        // division + cast is exact only when k divides 10^6 (round-10
        // ADVICE — a caller-supplied k could hit a double-rounding
        // off-by-one against the oracle)
        expr(s"(coalesce(n_hit, 0L) * 1000000L) div ${k.toLong}L")
          .as("recall_ppm"))
      .orderBy(col("query_id"))
    materializeAndRelease(out, assigned, ann)
  }

  /** V16b: the recall monitor extended to the PQ tier (round-10 verdict
    * task #5's "done" clause) — ADC@k recall against the exact
    * inner-product top-k, for BOTH codebook tiers side by side: the
    * first-32-by-id codebook (v10/v12's untrained baseline) and the
    * Lloyd-trained codebook read from the landed v12b artifact. One
    * shared corpus/query/exact frame set feeds both tiers, so the
    * numbers are comparable by construction; SimilaritySpec pins
    * trained ≥ first-32 at the suite level (training minimizes exactly
    * the quantization error ADC ranking pays for). Integer outputs
    * only (recall_ppm = n_hit·10⁶ div k, integral division). */
  def pqRecallAtK(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    // the monitor measures the SERVING ARTIFACTS: both tiers' codes are
    // read straight off their landed indexes (columnar projection of
    // the 8 int code columns — floats never read, no re-encode pass;
    // the first full-gate bench measured the re-encoding form at
    // 3.7 s vs ~1.6 s for this one, and re-deriving what the index
    // already stores was the wrong thing to monitor anyway)
    val path32 = ivfPqLandedPath(spark, dir)
    val trainedPath = ivfPqTrainedLandedPath(spark, dir)
    val e = shared(embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")))
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col("vec_id"))
    val exact = shared(corpus.crossJoin(broadcast(qs))
      .withColumn("score", Vectors.dot(col("embedding"), col("q_emb")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id")))
    // per-tier: read the landed codes, fan queries over them, score the
    // ADC sum map-side from per-(query, subspace) LUT literals (round
    // 16: the old form pinned each code's LUT entry through 8
    // broadcast joins PER TIER — 16 BroadcastExchanges in the query;
    // the LUTs are |queries|×K doubles, a driver-side constant)
    val qRows = qs.collect() // BOUNDED: nQueries rows
    val qVecs = qRows.map { r =>
      (r.getLong(0).toInt, r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case n: java.lang.Number => n.doubleValue
      }.toArray)
    }.sortBy(_._1)
    def hitsOf(idxPath: String, outCol: String): DataFrame = {
      val (ks, cbMat) = collectCodebook(Tables.parquet(spark, s"$idxPath/_codebook"))
      // lut2d(m)(query_id)(cb_k): subDot of query q with codebook row k
      // in subspace m — the same fold the broadcast-join form computed
      val lutByQ = qVecs.map { case (_, qv) => adcLuts(qv, ks, cbMat) }
      val lut2d = (0 until PqSubspaces).map(m =>
        lutByQ.map(l => l(m).toSeq).toSeq)
      val codes = Tables.parquet(spark, idxPath)
        .filter(col("vec_id") >= nQueries)
        .select(Seq(col("vec_id")) ++
          (0 until PqSubspaces).map(m => col(s"c$m")): _*)
      val fanned = codes.crossJoin(broadcast(qs.select(col("query_id"))))
      val adc = (1 until PqSubspaces).foldLeft(
        element_at(element_at(typedlit(lut2d(0)),
          col("query_id").cast("int") + lit(1)), col("c0") + lit(1)))((acc, m) =>
        acc + element_at(element_at(typedlit(lut2d(m)),
          col("query_id").cast("int") + lit(1)), col(s"c$m") + lit(1)))
      fanned.withColumn("score", adc)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"))
        .join(exact, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(outCol))
    }
    val h32 = hitsOf(path32, "n_hit_cb32")
    val ht = hitsOf(trainedPath, "n_hit_trained")
    val out = qs.select(col("query_id"))
      .join(h32, Seq("query_id"), "left")
      .join(ht, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hit_cb32"), lit(0L)).as("n_hit_cb32"),
        coalesce(col("n_hit_trained"), lit(0L)).as("n_hit_trained"),
        expr(s"(coalesce(n_hit_cb32, 0L) * 1000000L) div ${k.toLong}L")
          .as("recall_cb32_ppm"),
        expr(s"(coalesce(n_hit_trained, 0L) * 1000000L) div ${k.toLong}L")
          .as("recall_trained_ppm"))
      .orderBy(col("query_id"))
    materializeAndRelease(out, e, exact)
  }
}
