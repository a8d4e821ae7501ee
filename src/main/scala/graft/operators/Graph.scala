package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Graph analytics over the corpus' near-duplicate pair graph.
  *
  * d7 answers "which docs belong together" (components); g1 answers
  * "which doc should REPRESENT the group". Min-id canonical selection
  * (what d1/u3-style dedup defaults to) is arbitrary — the id says
  * nothing about centrality. PageRank over the duplicate graph ranks
  * each doc by how connected it is to the rest of its cluster, so the
  * canonical pick is the version most other near-duplicates agree
  * with (the hub of a paraphrase cluster, not whichever copy got the
  * smallest id).
  *
  * Determinism: ranks are integer parts-per-million. Each node starts
  * at 1,000,000 ppm; one iteration is
  * `r' = 150000 + (850 · Σ_in (r div deg)) div 1000` — the damping
  * 0.85 split into exact integer factors, `div` integral division
  * (bit-identical in Spark and DuckDB), and the incoming sum an
  * order-free BIGINT sum. Truncation loses a few ppm of probability
  * mass per round — acceptable for a RANKING (what matters is the
  * deterministic order), in exchange for a hashable fixed-iteration
  * result in both engines. The pair graph is symmetric, so every node
  * has out-degree ≥ 1 and there is no dangling-mass term.
  *
  * Scale shape: edges come from the ONE landed qualifying-pair frame
  * (the d7/c1b discipline — pair generation runs once per corpus).
  * The adjacency hash-partitions by src ONCE and stays persisted; the
  * ranks share its partitioning, so each round is a narrow
  * adjacency⋈rank zip plus one map-side-combined sum keyed by dst —
  * the Pregel round with a single exchange, and all rounds one lazy
  * RDD lineage (the PageRank shape of the Spark RDD paper, Zaharia et
  * al., NSDI'12) that lands once, at the end.
  */
object Graph {

  private[graft] val PagerankIters = 10

  private[graft] def symOf(pairs: DataFrame): DataFrame =
    pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))

  /** G1: integer PageRank over the d2/d7 qualifying-pair graph —
    * (doc_id, rank_ppm) for every doc in ≥1 near-dup pair. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(Dedup.qualifyingPairsLanded(spark, dir), PagerankIters)
      .select(col("id").as("doc_id"), col("r").as("rank_ppm"))
      .orderBy(col("doc_id"))

  /** Fixed-iteration integer PageRank over an undirected pair frame
    * (a_id, b_id). Returns (id, r) with r in ppm and id of the pairs'
    * id type.
    *
    * All rounds are ONE lazy lineage over the co-partitioned adjacency
    * ([[adjacencyOf]], [[rankRound]]): the final localCheckpoint runs
    * it as a single job, one stage per round, instead of one SQL
    * execution (broadcasts, shuffle-map stages, a checkpoint) per
    * materialized round. Ten rounds of lineage over a persisted
    * adjacency need no intermediate landing; the result is landed, so
    * [[rankMemo]] holds data, not a plan. */
  private[graft] def pagerankOf(pairs: DataFrame, iters: Int): DataFrame = {
    val adj = adjacencyOf(pairs)
    val ranks = (1 to iters).foldLeft(seedRanks(adj))((r, _) => rankRound(adj)(r))
    val out = idFrame(pairs, ranks, "r").localCheckpoint(true)
    adj.unpersist(true)
    out
  }

  /** One partition of the rank kernel's adjacency: its node ids
    * ascending; node i's out-edges at off(i) until off(i + 1), so its
    * out-degree is the span's length; and the edges' fixed routing:
    * edge j adds into slot(j) of the message for partition to(j), which
    * carries the ids dsts(to(j)). A round then ships one array message
    * per partition pair and never hashes or boxes an edge record. */
  private final class AdjBlock(val ids: Array[Long], val off: Array[Int],
      val to: Array[Int], val slot: Array[Int], val dsts: Array[Array[Long]])
      extends Serializable {
    def deg(i: Int): Long = (off(i + 1) - off(i)).toLong
  }

  /** Per-partition values aligned with an [[AdjBlock]]'s ids (ranks or
    * degrees): one (ids, values) pair per partition. */
  private type Vals = RDD[(Array[Long], Array[Long])]

  /** The symmetric edge frame hash-partitioned by src into
    * spark.sql.shuffle.partitions partitions ONCE, sorted by src within
    * each, one [[AdjBlock]] per partition, persisted for every round.
    * Ids run as BIGINT so the kernel keeps primitive arrays;
    * [[idFrame]] restores the caller's id type. A pair with a null
    * endpoint is not an edge. */
  private def adjacencyOf(pairs: DataFrame): RDD[AdjBlock] = {
    val part = new HashPartitioner(
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    symOf(pairs.na.drop(Seq("a_id", "b_id")))
      .select(col("src").cast("bigint"), col("dst").cast("bigint"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .repartitionAndSortWithinPartitions(part)
      .mapPartitions({ edges =>
        val (src, dst) = edges.toArray.unzip
        val starts = src.indices.filter(j => j == 0 || src(j) != src(j - 1))
        val to = dst.map(part.getPartition)
        val byTo = Array.fill(part.numPartitions)(Array.newBuilder[Long])
        dst.indices.foreach(j => byTo(to(j)) += dst(j))
        val dsts = byTo.map(_.result().distinct.sorted)
        val slot = dst.indices.map(j => java.util.Arrays.binarySearch(dsts(to(j)), dst(j)))
        Iterator.single(new AdjBlock(starts.map(src).toArray,
          (starts :+ src.length).toArray, to, slot.toArray, dsts))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Round 0: every node at 1,000,000 ppm. */
  private def seedRanks(adj: RDD[AdjBlock]): Vals =
    adj.map(b => (b.ids, Array.fill(b.ids.length)(1000000L)))

  /** One round `r' = 150000 + (850 · Σ_in (r div deg)) div 1000`. The
    * ranks are aligned with the adjacency partition by partition, so
    * reading them is a narrow zip, not a join; the one exchange ships
    * each partition's dst sums, fully combined map-side, to the
    * partition that owns the dst, where they zip with the adjacency
    * again. Every node has an in-edge (the edge frame is symmetric), so
    * every rank is rewritten. Spark ANSI's overflow contract is kept:
    * the sums and the damping product throw on overflow. */
  private def rankRound(adj: RDD[AdjBlock])(ranks: Vals): Vals = {
    val n = adj.getNumPartitions
    val messages = adj.zipPartitions(ranks) { (bs, rs) =>
        val b = bs.next()
        val r = rs.next()._2
        val sums = b.dsts.map(d => new Array[Long](d.length))
        for (i <- b.ids.indices; c = r(i) / b.deg(i); j <- b.off(i) until b.off(i + 1)) {
          val s = sums(b.to(j))
          s(b.slot(j)) = Math.addExact(s(b.slot(j)), c)
        }
        Iterator.tabulate(n)(q => (q, (b.dsts(q), sums(q)))).filter(_._2._1.nonEmpty)
      }
      .partitionBy(new HashPartitioner(n)) // an Int key q < n lands in partition q
    adj.zipPartitions(messages) { (bs, ms) =>
      val b = bs.next()
      val inr = new Array[Long](b.ids.length)
      ms.foreach { case (_, (ids, sums)) =>
        for (k <- ids.indices) {
          val i = java.util.Arrays.binarySearch(b.ids, ids(k))
          inr(i) = Math.addExact(inr(i), sums(k))
        }
      }
      Iterator.single((b.ids,
        inr.map(x => Math.addExact(150000L, Math.multiplyExact(850L, x) / 1000L))))
    }
  }

  /** Kernel values as an (id, `value`) frame, id cast back to the type
    * of `pairs`' ids (lazy — the caller lands it). */
  private def idFrame(pairs: DataFrame, vals: Vals, value: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField(value, LongType, nullable = false)))
    val rows = vals.flatMap { case (ids, v) =>
      Iterator.range(0, ids.length).map(i => Row(ids(i), v(i)))
    }
    pairs.sparkSession.createDataFrame(rows, schema)
      .select(col("id").cast(symOf(pairs).schema("src").dataType).as("id"), col(value))
  }

  // One-time-per-session memo for the corpus RANK frame (the d7
  // rawPairsMemo discipline): g1 stays the honest rank-generation
  // query — it keeps iterating fresh — while downstream consumers
  // (g1b's canonical selection) read the landing, the same way d7/g1
  // read the landed pair frame instead of re-running d2. Keyed by
  // session+dir, valued by the source-content fingerprint. The final
  // pagerankOf frame is already checkpoint-materialized, so the memo
  // holds a handle to landed data, not a lazy plan.
  private val rankMemo = new SessionMemo[DataFrame]()

  private[operators] def ranksLanded(spark: SparkSession, dir: String): DataFrame =
    rankMemo.landed(spark, dir, "g1", "corpus rank frame") {
      pagerankOf(Dedup.qualifyingPairsLanded(spark, dir), PagerankIters)
    }

  /** G1b: centrality-canonical selection — one row per d7 cluster
    * carrying the member with the highest PageRank (ties to the
    * smaller doc_id). The curation story's last step: dedup clusters
    * (d7) + member centrality (g1) → which copy survives. */
  def canonicalByRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    val labels = Dedup.connectedComponents(pairs)
    val ranks = ranksLanded(spark, dir)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(desc("rank_ppm"), col("doc_id"))
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(ranks.select(col("id").as("doc_id"), col("r").as("rank_ppm")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"), col("rank_ppm"))
      .orderBy(col("cluster_id"))
  }

  /** G2: triangle counting over the near-dup pair graph — the cluster
    * DENSITY diagnostic d7's components can't give: a component is one
    * number per group, but whether a cluster is a tight paraphrase
    * clique (every copy resembles every other) or a fragile chain
    * (A~B~C with A⊥C — the transitive-closure artifact that merges
    * unrelated docs through a bridge) is a triangle question. Per doc:
    * degree and the number of triangles it closes; chains score 0,
    * cliques score C(deg,2) — the local clustering numerator, emitted
    * as integers so the caller derives any coefficient without a
    * float crossing the hash.
    *
    * Scale shape: the standard degree ORIENTATION bounds the join —
    * each undirected edge is kept once, directed from its
    * (deg, id)-smaller endpoint, so every out-neighborhood is
    * O(√|E|)-bounded [Chiba-Nishizeki]; wedges come from ONE self-join
    * of the oriented frame on its middle vertex and close against a
    * third hash join. No vertex ever enumerates its full undirected
    * neighborhood — the hub that makes the naive wedge count
    * quadratic is exactly the vertex the orientation strips. Edges
    * come from the ONE landed qualifying-pair frame (the d7/g1
    * discipline). */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(Dedup.qualifyingPairsLanded(spark, dir))

  private[graft] def trianglesOf(pairs: DataFrame): DataFrame = {
    import CacheOps.materializeAndRelease
    val (sym, deg, ore, tri) = triFrames(pairs)
    val members = tri.select(col("a").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
    val tc = members.groupBy(col("id")).agg(count(lit(1)).as("tri_cnt"))
    val out = deg.select(col("u").as("doc_id"), col("deg"))
      .join(tc.select(col("id").as("doc_id"), col("tri_cnt")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .orderBy(col("doc_id"))
    materializeAndRelease(out, sym, deg, ore, tri)
  }

  /** G2b: INCREMENTAL triangle maintenance — the CDC discipline
    * applied to the graph tier. When new documents arrive, their
    * near-dup edges arrive with them; re-running the full wedge join
    * per batch is corpus-shaped, but every triangle the batch creates
    * contains a new node, so the update enumerates wedges CENTERED AT
    * NEW NODES only and closes them against the landed pair frame —
    * Δ-shaped work (Σ deg² over the arriving nodes for the wedge
    * enumeration; the closure is a semi join whose probe side is those
    * wedges, the build side the landed frame — the bm25-ledger-read
    * class, keyed never scanned).
    *
    * Once-counting: a triangle with several new corners would be
    * enumerated from each; it is counted exactly once at its MINIMUM
    * new corner — a wedge at center n is dropped when its far corner
    * is new and smaller (the standard edge-age ordering argument,
    * with node ids as the age proxy since nodes arrive, not edges).
    * GraphSpec pins the 1-, 2-, and 3-new-corner cases on a crafted
    * graph.
    *
    * The base state (per-node degree + triangle counts over the
    * old-old edge set) is the maintained artifact a production system
    * already holds — landed once per session (the ranksLanded
    * discipline) so the warm gate measures the DELTA apply + merge,
    * exactly like v9d/t11c measure their appends. Output ≡ g2 over
    * the full graph (shared oracle, hash-equal). */
  def trianglesIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    trianglesIncrementalOf(pairs, triBase(spark, dir, pairs), g2bNewNode)
  }

  /** The maintained old-old triangle state, landed once per corpus
    * fingerprint — shared by both incremental forms (g2b/g2c). */
  private def triBase(spark: SparkSession, dir: String, pairs: DataFrame): DataFrame =
    triBaseMemo.landed(spark, dir, "g2b", "base triangle state") {
      trianglesOf(pairs.filter(!g2bNewNode(col("a_id")) &&
        !g2bNewNode(col("b_id"))))
    }

  /** The g2b arrival split: ~1/7 of the graph counts as newly arrived. */
  private[graft] def g2bNewNode(c: Column): Column = c % 7 === 3

  private val triBaseMemo = new SessionMemo[DataFrame]()

  private[graft] def trianglesIncrementalOf(pairs: DataFrame, base: DataFrame,
      isNew: Column => Column): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val delta = shared(pairs
      .filter(isNew(col("a_id")) || isNew(col("b_id")))
      .select(col("a_id"), col("b_id")))
    // adjacency restricted to NEW centers (every edge incident to a new
    // node is by definition a delta edge)
    val adjN = shared(delta.select(col("a_id").as("n"), col("b_id").as("x"))
      .union(delta.select(col("b_id").as("n"), col("a_id").as("x")))
      .filter(isNew(col("n"))))
    val wedges = adjN.join(adjN.select(col("n"), col("x").as("y")), Seq("n"))
      .filter(col("x") < col("y"))
      // once-counting: keep the wedge only at the triangle's minimum
      // new corner
      .filter(!(isNew(col("x")) && col("x") < col("n")))
      .filter(!(isNew(col("y")) && col("y") < col("n")))
    val closed = wedges.join(
      pairs.select(least(col("a_id"), col("b_id")).as("x"),
        greatest(col("a_id"), col("b_id")).as("y")),
      Seq("x", "y"), "left_semi")
    val triDelta = closed.select(col("n").as("id"))
      .union(closed.select(col("x").as("id")))
      .union(closed.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("tri_delta"))
    val degDelta = delta.select(col("a_id").as("id"))
      .union(delta.select(col("b_id").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg_delta"))
    val out = base.select(col("doc_id"), col("deg"), col("tri_cnt"))
      .join(degDelta.select(col("id").as("doc_id"), col("deg_delta")),
        Seq("doc_id"), "full_outer")
      .join(triDelta.select(col("id").as("doc_id"), col("tri_delta")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("deg_delta"), lit(0L))).as("deg"),
        (coalesce(col("tri_cnt"), lit(0L)) + coalesce(col("tri_delta"), lit(0L))).as("tri_cnt"))
      .orderBy(col("doc_id"))
    materializeAndRelease(out, delta, adjN)
  }

  /** G2c: incremental triangles, DEGREE-ORIENTED — the fix g2b's own
    * 30× probe named. g2b enumerates wedges centered at arriving
    * nodes, Σ deg² over the delta's nodes: once the arrival set holds
    * high-degree nodes, the unoriented wedge count blows past the
    * full join's Chiba–Nishizeki O(E^1.5) bound (measured: g2b loses
    * the 30× point, PLANS.md). This twin runs the EDGE-ITERATOR
    * orientation over new edges instead: each new edge (x, y) expands
    * the adjacency of its LOWER-DEGREE endpoint only — Σ min(deg u,
    * deg v) over the delta's edges, the same orientation argument that
    * gives the full algorithm its bound, applied to the delta.
    *
    * Degrees are MAINTAINED, not recomputed: full-graph degree = the
    * landed base's old-old degree + a Δ-sized incident count — no
    * corpus-shaped aggregate on the apply path. The pivot expansion
    * joins the symmetric edge frame keyed on the pivot node (the
    * ledger-read class: at 100 TB the landed pair frame is bucketed by
    * endpoint and the probe ships only the delta's keys).
    *
    * Once-counting is by EDGE-AGE ORDER (the standard argument,
    * lexicographic canonical (min,max) as the total order): a triangle
    * with several new edges is counted only at its lexicographically
    * least new edge — a closed wedge is dropped when either remaining
    * edge is new and precedes the current one. Node-arrival newness
    * makes edge newness derivable (an edge is new iff it touches a
    * new node), so the rule needs no edge timestamps.
    *
    * Output ≡ g2 over the full graph (shared oracle, hash-equal):
    * all-old triangles live in the base, every triangle with a new
    * corner has ≥1 new edge and is counted exactly once. */
  def trianglesIncrementalOriented(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    trianglesIncrementalOrientedOf(pairs, triBase(spark, dir, pairs), g2bNewNode)
  }

  /** The shared Δ-triangle enumeration behind g2c and g4b: canonical
    * new edges (`x < y`, every edge touching a new node), oriented at
    * the lower-degree endpoint, closed against the pair frame, counted
    * once at the lexicographically least new edge. Returns (the
    * once-counted closed-wedge frame with columns x, y, pivot, other,
    * w — one row per delta TRIANGLE — and the Δ-sized per-node
    * incident-edge counts). The closed frame arrives `shared`; callers
    * release it via materializeAndRelease. */
  private[graft] def orientedDeltaTriangles(pairs: DataFrame,
      base: DataFrame, isNew: Column => Column): (DataFrame, DataFrame, DataFrame) = {
    import CacheOps.shared
    def lexLt(ax: Column, ay: Column, bx: Column, by: Column): Column =
      ax < bx || (ax === bx && ay < by)
    // canonical new edges (x < y): every edge touching a new node
    val delta = shared(pairs
      .filter(isNew(col("a_id")) || isNew(col("b_id")))
      .select(least(col("a_id"), col("b_id")).as("x"),
        greatest(col("a_id"), col("b_id")).as("y")))
    val degDelta = delta.select(col("x").as("id"))
      .union(delta.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg_delta"))
    // full-graph degrees from the maintained base + a Δ-sized merge —
    // the apply path never aggregates the whole edge frame
    val degFull = base.select(col("doc_id").as("id"), col("deg").as("deg_base"))
      .join(degDelta, Seq("id"), "full_outer")
      .select(col("id"), (coalesce(col("deg_base"), lit(0L)) +
        coalesce(col("deg_delta"), lit(0L))).as("deg_full"))
    // orient each new edge at its lower-degree endpoint (tie: x —
    // any deterministic orientation is sound, degree makes it cheap)
    val pivoted = delta
      .join(degFull.select(col("id").as("x"), col("deg_full").as("dx")), Seq("x"))
      .join(degFull.select(col("id").as("y"), col("deg_full").as("dy")), Seq("y"))
      .select(col("x"), col("y"),
        when(col("dx") <= col("dy"), col("x")).otherwise(col("y")).as("pivot"),
        when(col("dx") <= col("dy"), col("y")).otherwise(col("x")).as("other"))
    val sym = pairs.select(col("a_id").as("u"), col("b_id").as("w"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("w")))
    // Σ min(deg) wedge rows; closure = keyed semi probe of the pair frame
    val wedges = pivoted.join(sym, col("pivot") === col("u"))
      .filter(col("w") =!= col("other"))
      .select(col("x"), col("y"), col("pivot"), col("other"), col("w"))
    val closed = wedges.join(
      pairs.select(least(col("a_id"), col("b_id")).as("cx"),
        greatest(col("a_id"), col("b_id")).as("cy")),
      col("cx") === least(col("other"), col("w")) &&
        col("cy") === greatest(col("other"), col("w")),
      "left_semi")
    // once-counting: triangle {pivot, other, w} counts at its lex-least
    // new edge. (pivot,w) exists by construction, (other,w) by closure.
    val once = shared(closed
      .filter(!((isNew(col("pivot")) || isNew(col("w"))) &&
        lexLt(least(col("pivot"), col("w")), greatest(col("pivot"), col("w")),
          col("x"), col("y"))))
      .filter(!((isNew(col("other")) || isNew(col("w"))) &&
        lexLt(least(col("other"), col("w")), greatest(col("other"), col("w")),
          col("x"), col("y")))))
    (once, delta, degDelta)
  }

  private[graft] def trianglesIncrementalOrientedOf(pairs: DataFrame,
      base: DataFrame, isNew: Column => Column): DataFrame = {
    import CacheOps.materializeAndRelease
    val (once, delta, degDelta) = orientedDeltaTriangles(pairs, base, isNew)
    val triDelta = once.select(col("pivot").as("id"))
      .union(once.select(col("other").as("id")))
      .union(once.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("tri_delta"))
    val out = base.select(col("doc_id"), col("deg"), col("tri_cnt"))
      .join(degDelta.select(col("id").as("doc_id"), col("deg_delta")),
        Seq("doc_id"), "full_outer")
      .join(triDelta.select(col("id").as("doc_id"), col("tri_delta")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("deg"), lit(0L)) + coalesce(col("deg_delta"), lit(0L))).as("deg"),
        (coalesce(col("tri_cnt"), lit(0L)) + coalesce(col("tri_delta"), lit(0L))).as("tri_cnt"))
      .orderBy(col("doc_id"))
    materializeAndRelease(out, delta, once)
  }

  /** The wedge budget above which an unoriented centered enumeration
    * (g2b) is routed away even when it is the "natural" shape: the
    * round-12 hub probe's indifference band. At 2M centered wedges
    * g2b still won on overhead (1.38 s vs 1.78 s); at 32M it lost 6×
    * (11.7 s vs 1.9 s); the midpoint is chosen because near the
    * boundary BOTH twins run in low seconds (misrouting is cheap
    * there — the blowup cases sit orders of magnitude apart). */
  private[graft] val CenteredWedgeBudget = 4000000L

  /** G2d: the DISPATCHED maintenance verb for per-node triangle
    * counts — round-12 verdict task #1. The round-12 probes proved
    * each twin wins a different regime (g2b by ~0.4 s fixed overhead
    * on ordinary arrivals; g2c flat at hub-degree 8000 where g2b goes
    * 11.7 s), but the choice lived in PLANS.md prose; a 100 TB
    * pipeline can't read prose, so this verb reads the two cost
    * drivers off already-landed state and routes:
    *
    *   centered = Σ_new-nodes C(deg_Δ, 2)   (g2b's wedge frame)
    *   oriented = Σ_Δ-edges min(deg_full)   (g2c's wedge frame)
    *
    * Both are Δ-sized column aggregates (degrees of NEW nodes are
    * their delta degrees; full degrees of touched nodes come from the
    * maintained base joined on the Δ's keys only) collected as two
    * driver scalars — the dispatcher's whole overhead. Routing: g2b
    * unless its wedge frame exceeds [[CenteredWedgeBudget]] AND the
    * oriented frame is at least 4× smaller (both large → the cheaper
    * one still wins; both small → g2b's lower fixed overhead wins).
    * Output ≡ g2 either way (shared oracle, hash-equal). */
  def trianglesMaintain(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    trianglesMaintainOf(pairs, triBase(spark, dir, pairs), g2bNewNode)._1
  }

  /** (centered, oriented) wedge-cost stats for the dispatch decision —
    * two Δ-sized aggregates, two driver scalars. */
  private[graft] def triangleRegimeStats(pairs: DataFrame, base: DataFrame,
      isNew: Column => Column): (Long, Long) = {
    val delta = pairs
      .filter(isNew(col("a_id")) || isNew(col("b_id")))
      .select(least(col("a_id"), col("b_id")).as("x"),
        greatest(col("a_id"), col("b_id")).as("y"))
      .localCheckpoint(true)
    val degDelta = delta.select(col("x").as("id"))
      .union(delta.select(col("y").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("dd"))
      .localCheckpoint(true)
    // a NEW node's full degree IS its delta degree (all its edges are
    // delta edges), so g2b's wedge count needs no base lookup
    val centered = degDelta.filter(isNew(col("id")))
      .agg(coalesce(sum(expr("dd * (dd - 1) div 2")), lit(0L)))
      .head().getLong(0)
    // full degrees of the Δ's endpoints = maintained base degree + the
    // Δ-sized incident count — the base joins on the Δ's keys only
    val degTouched = degDelta
      .join(base.select(col("doc_id").as("id"), col("deg")), Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("deg"), lit(0L)) + col("dd")).as("df"))
    val oriented = delta
      .join(degTouched.select(col("id").as("x"), col("df").as("dx")), Seq("x"))
      .join(degTouched.select(col("id").as("y"), col("df").as("dy")), Seq("y"))
      .agg(coalesce(sum(least(col("dx"), col("dy"))), lit(0L)))
      .head().getLong(0)
    delta.unpersist()
    degDelta.unpersist()
    (centered, oriented)
  }

  /** The routed apply; returns (result, chosen twin) so the dispatch
    * spec pins BOTH probe regimes without reading logs. */
  private[graft] def trianglesMaintainOf(pairs: DataFrame, base: DataFrame,
      isNew: Column => Column): (DataFrame, String) = {
    val (centered, oriented) = triangleRegimeStats(pairs, base, isNew)
    if (centered > CenteredWedgeBudget && centered > 4L * oriented)
      (trianglesIncrementalOrientedOf(pairs, base, isNew), "g2c")
    else (trianglesIncrementalOf(pairs, base, isNew), "g2b")
  }

  // landed old-old edge-support state for g4b (the triBase discipline)
  private val supBaseMemo = new SessionMemo[DataFrame]()

  /** G4b: per-edge triangle support MAINTAINED incrementally — the
    * edge-level companion of g2c, completing the graph tier's CDC
    * story (nodes: g2b/g2c; clusters: d7c; edges: here). Every delta
    * triangle (≥1 new corner) adds support 1 to each of its three
    * edges — including OLD-old edges a new corner now supports, which
    * is why the merge is a full-outer over the base support frame,
    * not an append. New edges closing no triangle still appear with
    * support 0 (g4's weak-edge semantics). Output ≡ g4 over the full
    * graph (shared oracle, hash-equal); Δ-shaped work: the oriented
    * enumeration plus one |Δ-triangles|·3-row aggregate. */
  def weakEdgesIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    val baseSup = supBaseMemo.landed(spark, dir, "g4b", "base edge-support state") {
      weakEdgesOf(pairs.filter(!g2bNewNode(col("a_id")) &&
        !g2bNewNode(col("b_id"))))
    }
    weakEdgesIncrementalOf(pairs, triBase(spark, dir, pairs), baseSup, g2bNewNode)
  }

  private[graft] def weakEdgesIncrementalOf(pairs: DataFrame, triBase: DataFrame,
      baseSup: DataFrame, isNew: Column => Column): DataFrame = {
    import CacheOps.materializeAndRelease
    val (once, delta, _) = orientedDeltaTriangles(pairs, triBase, isNew)
    // each delta triangle supports its three canonical edges
    val supDelta = once.select(col("x"), col("y"))
      .union(once.select(least(col("pivot"), col("w")).as("x"),
        greatest(col("pivot"), col("w")).as("y")))
      .union(once.select(least(col("other"), col("w")).as("x"),
        greatest(col("other"), col("w")).as("y")))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("sup_delta"))
    // edge universe = base edges (support included) ∪ the delta's new
    // edges (support 0 unless a delta triangle names them)
    val out = baseSup.select(col("a_id"), col("b_id"), col("support").as("base_sup"))
      .join(delta.select(col("x").as("a_id"), col("y").as("b_id")),
        Seq("a_id", "b_id"), "full_outer")
      .join(supDelta.select(col("x").as("a_id"), col("y").as("b_id"), col("sup_delta")),
        Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        (coalesce(col("base_sup"), lit(0L)) +
          coalesce(col("sup_delta"), lit(0L))).as("support"))
      .orderBy(col("a_id"), col("b_id"))
    materializeAndRelease(out, delta, once)
  }

  private[graft] val KcoreK = 2
  private[graft] val KcoreRounds = 8

  /** G3: k-core extraction (k=2) over the near-dup pair graph — the
    * degeneracy diagnostic that separates STRUCTURE from STRAGGLERS:
    * iteratively peeling nodes of degree < k removes pendants and
    * chains (which g2 shows close no triangles) until only the
    * mutually-supported core remains. A 2-core member is in a cycle
    * of near-duplicates — evidence of a real paraphrase cluster; a
    * peeled node hung off the cluster by one fragile edge (the
    * bridge/transitive artifact d7's closure can't distinguish).
    * Output: surviving nodes with their within-core degree.
    *
    * Fixed-round discipline (the g1/d7 convention): ROUNDS peel
    * iterations unrolled identically on both engines — a
    * data-dependent "until stable" loop could converge at different
    * round counts than a fixed oracle unroll, so the round count is a
    * constant, the spec asserts the fixture reaches its fixpoint well
    * inside it (rounds vs rounds+1 equality), and each round
    * localCheckpoints so lineage stays constant.
    *
    * Scale shape: each round is one partial-agged degree count plus
    * two left-semi prunes of the edge frame — all keyed by the edge
    * endpoints, no whole-graph collect, monotonically shrinking
    * frames. Peeling is the textbook distributed k-core
    * [Montresor et al.]; at 100 TB each round's exchanges carry the
    * SURVIVING edges only. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(Dedup.qualifyingPairsLanded(spark, dir), KcoreK, KcoreRounds)

  private[graft] def kcoreOf(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      edges = edges
        .join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
    }
    edges.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))
  }

  // landed peeled-region state for g3b: (old core with degrees,
  // sym cand-cand edges, cand→core anchor edges)
  private val kcoreBaseMemo = new SessionMemo[(DataFrame, DataFrame, DataFrame)]()

  /** G3b: incremental k-core via ANCHORED REGROWTH over the peeled
    * region — the CDC form of g3. Edge ADDITION is monotone for the
    * k-core (degrees only grow, so `core(G) ⊆ core(G ∪ Δ)`): no landed
    * core member ever leaves, and the only question is which peeled or
    * arriving nodes the new edges PROMOTE. The apply therefore peels
    * only the candidate region — old non-core nodes plus arrivals —
    * with edges INTO the landed core counted as permanent anchor
    * degree (core members never peel, so their contribution is a
    * constant). Exactness: survivors ∪ old core has min internal
    * degree ≥ k (each survivor's anchors + surviving-candidate edges
    * ≥ k at the fixpoint; core members only gain), and conversely any
    * node of `core(G ∪ Δ)` outside the old core withstands the
    * anchored peel by induction on rounds — so the union IS the new
    * core, not an approximation.
    *
    * The maintained state is the base core WITH its degrees plus the
    * peeled-region edge frames (cand-cand and cand→core) — landed once
    * per corpus (the triBase discipline), so the apply path reads ONLY
    * Δ and peeled-region-sized frames: no corpus scan, no full-graph
    * peel. Degree updates to old core members come from two keyed
    * Δ-sized joins: delta edges into the final core, and old anchor
    * edges whose candidate got promoted (the chain-resurrection case a
    * pendant path pays when a new edge closes it into a cycle —
    * spec-pinned). Output ≡ g3 over the full graph (shared oracle). */
  def kcoreIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    val (core, candEdges, anchorEdges) = kcoreBase(spark, dir, pairs)
    kcoreIncrementalOf(pairs, core, candEdges, anchorEdges, g2bNewNode,
      KcoreK, KcoreRounds)
  }

  private def kcoreBase(spark: SparkSession, dir: String,
      pairs: DataFrame): (DataFrame, DataFrame, DataFrame) =
    kcoreBaseMemo.landed(spark, dir, "g3b", "peeled-region state") {
      kcoreBaseOf(
        pairs.filter(!g2bNewNode(col("a_id")) && !g2bNewNode(col("b_id"))),
        KcoreK, KcoreRounds)
    }

  /** The candidate-region share above which the anchored regrowth
    * (g3b) is routed back to the full peel (g3): both round-12 probe
    * regimes sit far from it (the dup-graph fixture re-peels ~100% of
    * the graph and g3 wins every factor; the core-dense graph re-peels
    * ~5% and g3b wins 3.4-4.7×), and at one-half the two peels touch
    * comparable edge volume while g3b still pays its classification
    * joins — so the full peel gets the benefit of the doubt. */
  private[graft] val CandRegionShare = 0.5

  /** G3c: the DISPATCHED maintenance verb for the k-core artifact —
    * round-12 verdict task #1's second family. WARM (a previous g3b/
    * g3c call landed the base for this corpus), the decision input is
    * ONE ratio read off already-landed state: the share of the edge
    * frame inside the candidate region g3b would re-peel (the landed
    * cand-cand + anchor frames plus the Δ's edges) over the whole
    * pair frame — all materialized frames, so the counts are
    * metadata-cheap driver scalars. COLD, the base is passed BY NAME
    * (the d7d convention — round-13 ADVICE: eagerly landing the
    * whole anchored-regrowth base just to read two counts makes the
    * pendant-heavy corpus, which routes to the full peel anyway, pay
    * the base for nothing) and the route reads a LOWER bound on the
    * candidate-region share from the pair frame alone; only the g3b
    * route lands the base. Core-dominant corpus → tiny share →
    * anchored regrowth; pendant-heavy corpus (this suite's dup
    * graphs) → share ≈ 1 → full peel. Output ≡ g3 either way (shared
    * oracle, hash-equal). */
  def kcoreMaintain(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    kcoreBaseMemo.peek(spark, dir) match {
      case Some((core, candEdges, anchorEdges)) =>
        kcoreMaintainOf(pairs, core, candEdges, anchorEdges, g2bNewNode,
          KcoreK, KcoreRounds)._1
      case None =>
        kcoreMaintainColdOf(pairs, kcoreBase(spark, dir, pairs), g2bNewNode,
          KcoreK, KcoreRounds)._1
    }
  }

  /** The cold route: estimate the candidate-region share from the
    * pair frame alone — Δ edges plus old edges touching a CERTAINLY
    * peeled endpoint (old-graph degree < k). That is a sound LOWER
    * bound on the region (cascade peels are invisible to one degree
    * pass), so crossing [[CandRegionShare]] proves the full peel is
    * the right route WITHOUT landing the base; under it, the base
    * lands (by-name) and the exact warm rule decides — a mis-estimate
    * can only err toward landing state every later call reuses. */
  private[graft] def kcoreMaintainColdOf(pairs: DataFrame,
      base: => (DataFrame, DataFrame, DataFrame), isNew: Column => Column,
      k: Int, rounds: Int): (DataFrame, String) = {
    val oldE = pairs.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val lowIds = oldE.select(col("a_id").as("id"))
      .union(oldE.select(col("b_id").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") < k)
    val lowEdges = oldE
      .join(lowIds.select(col("id").as("a_id")).withColumn("la", lit(1)),
        Seq("a_id"), "left")
      .join(lowIds.select(col("id").as("b_id")).withColumn("lb", lit(1)),
        Seq("b_id"), "left")
      .filter(col("la").isNotNull || col("lb").isNotNull).count()
    val (deltaN, total) = deltaAndTotal(pairs, isNew)
    if ((lowEdges + deltaN).toDouble / total > CandRegionShare)
      (kcoreOf(pairs, k, rounds), "g3")
    else {
      val (core, candEdges, anchorEdges) = base
      kcoreMaintainOf(pairs, core, candEdges, anchorEdges, isNew, k, rounds)
    }
  }

  /** (delta edges, all edges at least 1) of a pair frame, in one aggregate. */
  private def deltaAndTotal(pairs: DataFrame, isNew: Column => Column): (Long, Long) = {
    val r = pairs.agg(count(when(isNew(col("a_id")) || isNew(col("b_id")), 1)),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1) max 1L)
  }

  /** The routed apply; returns (result, chosen twin) for the spec. */
  private[graft] def kcoreMaintainOf(pairs: DataFrame, core: DataFrame,
      candEdges: DataFrame, anchorEdges: DataFrame, isNew: Column => Column,
      k: Int, rounds: Int): (DataFrame, String) = {
    val (deltaN, total) = deltaAndTotal(pairs, isNew)
    val region = candEdges.select(lit(true).as("cand"))
      .union(anchorEdges.select(lit(false).as("cand")))
      .agg(count(when(col("cand"), 1)), count(when(!col("cand"), 1))).head()
    val candRegion = region.getLong(0) / 2 + region.getLong(1) + deltaN
    if (candRegion.toDouble / total <= CandRegionShare)
      (kcoreIncrementalOf(pairs, core, candEdges, anchorEdges, isNew, k, rounds), "g3b")
    else (kcoreOf(pairs, k, rounds), "g3")
  }

  /** The g3b maintained state over an old-edge frame: (core with
    * degrees, sym cand-cand edges, cand→core anchor edges) — all
    * landed eagerly (localCheckpoint: the memo's landing convention,
    * lineage cut, blocks owned by the ContextCleaner). */
  private[graft] def kcoreBaseOf(old: DataFrame, k: Int, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val coreF = kcoreOf(old, k, rounds).localCheckpoint(true)
    val mem = coreF.select(col("doc_id"), lit(true).as("in_core"))
    val sym = old.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(old.select(col("b_id").as("u"), col("a_id").as("v")))
    val cls = sym
      .join(mem.select(col("doc_id").as("u"), col("in_core").as("uc")), Seq("u"), "left")
      .join(mem.select(col("doc_id").as("v"), col("in_core").as("vc")), Seq("v"), "left")
    val cand = cls.filter(col("uc").isNull && col("vc").isNull)
      .select(col("u"), col("v")).localCheckpoint(true)
    val anchor = cls.filter(col("uc").isNull && col("vc").isNotNull)
      .select(col("u").as("cand"), col("v").as("core_nbr")).localCheckpoint(true)
    (coreF, cand, anchor)
  }

  private[graft] def kcoreIncrementalOf(pairs: DataFrame, core: DataFrame,
      candEdges: DataFrame, anchorEdges: DataFrame, isNew: Column => Column,
      k: Int, rounds: Int): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val coreIds = core.select(col("doc_id"))
    val mem = coreIds.select(col("doc_id"), lit(true).as("in_core"))
    // delta edges (every edge touching an arrival), symmetric, split by
    // the far endpoint's landed-core membership. Arrivals are never in
    // the landed core, so u∈core rows are exactly the core-side view.
    val deltaSym = shared(pairs
      .filter(isNew(col("a_id")) || isNew(col("b_id")))
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.filter(isNew(col("a_id")) || isNew(col("b_id")))
        .select(col("b_id").as("u"), col("a_id").as("v"))))
    val dCls = deltaSym
      .join(mem.select(col("doc_id").as("u"), col("in_core").as("uc")), Seq("u"), "left")
      .join(mem.select(col("doc_id").as("v"), col("in_core").as("vc")), Seq("v"), "left")
    val dCand = dCls.filter(col("uc").isNull && col("vc").isNull)
      .select(col("u"), col("v"))
    val dAnchor = dCls.filter(col("uc").isNull && col("vc").isNotNull)
      .select(col("u").as("cand"), col("v").as("core_nbr"))
    val anchors = shared(anchorEdges.unionByName(dAnchor))
    val anchorCnt = anchors.groupBy(col("cand")).agg(count(lit(1)).as("na"))
    // anchored peel over the candidate region only
    var adj = candEdges.unionByName(dCand).localCheckpoint(true)
    var alive = adj.select(col("u").as("id"))
      .union(adj.select(col("v").as("id")))
      .union(anchorCnt.select(col("cand").as("id")))
      .distinct().localCheckpoint(true)
    // Early exit at the peel's fixpoint: unlike g3's full peel (where
    // fixed rounds keep the oracle's unroll in lockstep), stopping
    // here cannot change the RESULT — once no candidate dropped in a
    // round, no later round can drop one (degrees are unchanged), so
    // the surviving set is already the fixpoint the oracle's full
    // unroll reaches. The per-round count is a bounded driver scalar
    // (the I3 frontier class); without the exit the apply pays all 8
    // checkpoint barriers even when the candidate region dies in 2.
    var prev = alive.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("cd"))
      val keep = alive
        .join(deg.select(col("u").as("id"), col("cd")), Seq("id"), "left")
        .join(anchorCnt.select(col("cand").as("id"), col("na")), Seq("id"), "left")
        .filter(coalesce(col("cd"), lit(0L)) + coalesce(col("na"), lit(0L)) >= k)
        .select(col("id"))
      alive = keep.localCheckpoint(true)
      val n = alive.count()
      if (n == prev) converged = true
      else {
        prev = n
        adj = adj.join(alive.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(alive.select(col("id").as("v")), Seq("v"), "left_semi")
          .localCheckpoint(true)
      }
    }
    // promoted survivors with their within-core degrees
    val survDeg = adj.groupBy(col("u")).agg(count(lit(1)).as("cd"))
    val survAnch = anchors
      .join(alive.select(col("id").as("cand")), Seq("cand"), "left_semi")
      .groupBy(col("cand")).agg(count(lit(1)).as("na"))
    val surv = alive
      .join(survDeg.select(col("u").as("id"), col("cd")), Seq("id"), "left")
      .join(survAnch.select(col("cand").as("id"), col("na")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        (coalesce(col("cd"), lit(0L)) + coalesce(col("na"), lit(0L))).as("core_deg"))
    // old core members: base degree + delta edges into the final core
    // + old anchor edges whose candidate got promoted
    val finalIds = coreIds.union(alive.select(col("id").as("doc_id")))
    val dCoreGain = dCls.filter(col("uc").isNotNull)
      .join(finalIds.select(col("doc_id").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u")).agg(count(lit(1)).as("g_new"))
    val promGain = anchorEdges
      .join(alive.select(col("id").as("cand")), Seq("cand"), "left_semi")
      .groupBy(col("core_nbr")).agg(count(lit(1)).as("g_prom"))
    val coreOut = core
      .join(dCoreGain.select(col("u").as("doc_id"), col("g_new")), Seq("doc_id"), "left")
      .join(promGain.select(col("core_nbr").as("doc_id"), col("g_prom")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("core_deg") + coalesce(col("g_new"), lit(0L)) +
          coalesce(col("g_prom"), lit(0L))).as("core_deg"))
    val out = coreOut.unionByName(surv).orderBy(col("doc_id"))
    materializeAndRelease(out, deltaSym, anchors)
  }

  /** The shared oriented-triangle derivation: symmetric edges, degrees,
    * the (deg, id)-oriented edge frame (acyclic, one direction per
    * edge, out-degree O(√|E|) [Chiba-Nishizeki]), and the closed wedge
    * (triangle) triples — g2 counts per-NODE closures, g4 counts
    * per-EDGE support. All four frames are persisted; callers release
    * them. */
  private def triFrames(pairs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import CacheOps.shared
    val sym = shared(pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(pairs.select(col("b_id").as("u"), col("a_id").as("v"))))
    val deg = shared(sym.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val ore = shared(sym
      .join(deg.select(col("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("dv")), Seq("v"))
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v")))
    // wedges a→b→c from the oriented frame, closed by the (a, c) edge
    val tri = shared(ore.select(col("u").as("a"), col("v").as("b"))
      .join(ore.select(col("u").as("b"), col("v").as("c")), Seq("b"))
      .join(ore.select(col("u").as("a"), col("v").as("c")), Seq("a", "c")))
    (sym, deg, ore, tri)
  }

  /** G4: per-edge triangle support — the dup-graph CLEANING filter
    * that names the merges d7's closure should not trust: an edge in
    * zero triangles is a single unsupported assertion of sameness
    * (the bridge that chains unrelated docs into one cluster through
    * transitive closure), while an edge inside a clique is vouched
    * for by every common neighbor. Support = |common neighbors| =
    * triangles containing the edge; production graph dedup drops
    * support-0 edges before clustering. Output: every pair edge with
    * its support count.
    *
    * Scale shape: the same oriented wedge join as g2 (out-degree
    * O(√|E|)); support attribution is three role projections of the
    * closed-triple frame partial-agged on the normalized edge key,
    * then one left join back to the pair frame. */
  def weakEdges(spark: SparkSession, dir: String): DataFrame =
    weakEdgesOf(Dedup.qualifyingPairsLanded(spark, dir))

  private[graft] def weakEdgesOf(pairs: DataFrame): DataFrame = {
    import CacheOps.{materializeAndRelease, shared}
    val p = shared(pairs.select(col("a_id"), col("b_id")))
    val (sym, deg, ore, tri) = triFrames(p)
    val sup = tri.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .union(tri.select(least(col("b"), col("c")).as("x"),
        greatest(col("b"), col("c")).as("y")))
      .union(tri.select(least(col("a"), col("c")).as("x"),
        greatest(col("a"), col("c")).as("y")))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("support"))
    val out = p
      .join(sup.select(col("x").as("a_id"), col("y").as("b_id"), col("support")),
        Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("a_id"), col("b_id"))
    materializeAndRelease(out, p, sym, deg, ore, tri)
  }
}
