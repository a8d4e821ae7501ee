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
  * Every iterative graph loop runs on one CSR vertex kernel: the
  * adjacency hash-partitions by src ONCE and stays persisted; node
  * values share its partitioning, so each round ([[superstep]]) is a
  * narrow adjacency⋈value zip plus one map-side-combined fold keyed by
  * dst — the Pregel round with a single exchange. PageRank (g1) and
  * the k-core peel (g3) run their fixed rounds as one lazy RDD lineage
  * (the PageRank shape of the Spark RDD paper, Zaharia et al.,
  * NSDI'12) that lands once, at the end; connected components (d7)
  * land each round with the one job that counts its changed labels.
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
    * All rounds are ONE lazy lineage of [[superstep]]s of
    * [[RankProgram]] over the co-partitioned adjacency
    * ([[adjacencyOf]]): the final localCheckpoint runs it as a single
    * job, one stage per round, instead of one SQL execution
    * (broadcasts, shuffle-map stages, a checkpoint) per materialized
    * round. Ten rounds of lineage over a persisted adjacency need no
    * intermediate landing; the result is landed, so [[ranksLanded]] holds
    * data, not a plan. */
  private[graft] def pagerankOf(pairs: DataFrame, iters: Int): DataFrame = {
    val adj = adjacencyOf(pairs)
    val ranks = (1 to iters).foldLeft(seedVals(adj)(_ => 1000000L))(
      (r, _) => superstep(adj, RankProgram)(r))
    val out = idFrame(pairs, ranks, "r").localCheckpoint(true)
    adj.unpersist(true)
    out
  }

  /** One partition of the kernel's adjacency: its node ids ascending;
    * node i's out-edges at off(i) until off(i + 1), so its out-degree
    * is the span's length; and the edges' fixed routing: edge j
    * combines into slot(j) of the message for partition to(j), which
    * carries the ids dsts(to(j)). A round then ships one array message
    * per partition pair and never hashes or boxes an edge record. */
  private final class AdjBlock(val ids: Array[Long], val off: Array[Int],
      val to: Array[Int], val slot: Array[Int], val dsts: Array[Array[Long]])
      extends Serializable {
    def deg(i: Int): Long = (off(i + 1) - off(i)).toLong
  }

  /** Per-partition node values aligned with an [[AdjBlock]]'s ids
    * (ranks, alive flags, labels): one (ids, values) pair per
    * partition. */
  private type Vals = RDD[(Array[Long], Array[Long])]

  /** The symmetric edge frame hash-partitioned by src into
    * spark.sql.shuffle.partitions partitions ONCE, sorted by src within
    * each, one [[AdjBlock]] per partition, persisted for every round.
    * Ids run as BIGINT so the kernel keeps primitive arrays;
    * [[idFrame]] restores the caller's id type. A pair with a null
    * endpoint is not an edge; duplicate pairs and self-loops are
    * edges, each counted as often as it occurs. */
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

  /** A vertex program for [[superstep]]: each node sends
    * `message(value, outDegree)` along every out-edge; the messages to
    * one node fold with `combine` from `zero`; `update` turns the fold
    * into the node's next value. The edge set is symmetric, so every
    * node receives a message each round. `update` never sees the old
    * value: a round is a function of the previous round's messages
    * alone, so a lineage of rounds re-reads no earlier round and needs
    * no per-round persist. */
  private final case class VertexProgram(zero: Long, combine: (Long, Long) => Long,
      message: (Long, Long) => Long, update: Long => Long) {
    def slots(n: Int): Array[Long] = {
      val a = new Array[Long](n)
      java.util.Arrays.fill(a, zero)
      a
    }
  }

  /** `r' = 150000 + (850 · Σ_in (r div deg)) div 1000`. Spark ANSI's
    * overflow contract is kept: the sums and the damping product throw
    * on overflow. */
  private val RankProgram = VertexProgram(0L, Math.addExact(_: Long, _: Long),
    (r, deg) => r / deg, in => Math.addExact(150000L, Math.multiplyExact(850L, in) / 1000L))

  /** Alive flags (1 or 0) summed over each node's in-edges, then
    * `update`d: the k-core peel's step and its final degree count. */
  private def peelProgram(update: Long => Long) =
    VertexProgram(0L, _ + _, (alive, _) => alive, update)

  /** The least label over each node's in-edges (min-label propagation). */
  private val MinLabel = VertexProgram(Long.MaxValue, math.min(_: Long, _: Long),
    (label, _) => label, identity)

  /** Round 0 values, one per node from its id. */
  private def seedVals(adj: RDD[AdjBlock])(f: Long => Long): Vals =
    adj.map(b => (b.ids, b.ids.map(f)))

  /** Two value sets of one adjacency combined node by node (narrow). */
  private def zipVals(a: Vals, b: Vals)(f: (Long, Long) => Long): Vals =
    a.zipPartitions(b) { (as, bs) =>
      val (ids, x) = as.next()
      val y = bs.next()._2
      Iterator.single((ids, Array.tabulate(ids.length)(i => f(x(i), y(i)))))
    }

  /** One round of a [[VertexProgram]]. The values are aligned with the
    * adjacency partition by partition, so reading them is a narrow zip,
    * not a join; each partition folds its messages into the fixed
    * slots of one array per destination partition (a full map-side
    * combine), the one exchange ships those arrays to the partitions
    * that own their ids, and there they fold again per node and zip
    * with the adjacency. */
  private def superstep(adj: RDD[AdjBlock], p: VertexProgram)(vals: Vals): Vals = {
    val n = adj.getNumPartitions
    val messages = adj.zipPartitions(vals) { (bs, vs) =>
        val b = bs.next()
        val v = vs.next()._2
        val folded = b.dsts.map(d => p.slots(d.length))
        for (i <- b.ids.indices; m = p.message(v(i), b.deg(i)); j <- b.off(i) until b.off(i + 1)) {
          val s = folded(b.to(j))
          s(b.slot(j)) = p.combine(s(b.slot(j)), m)
        }
        Iterator.tabulate(n)(q => (q, (b.dsts(q), folded(q)))).filter(_._2._1.nonEmpty)
      }
      .partitionBy(new HashPartitioner(n)) // an Int key q < n lands in partition q
    adj.zipPartitions(messages) { (bs, ms) =>
      val b = bs.next()
      val in = p.slots(b.ids.length)
      ms.foreach { case (_, (ids, folded)) =>
        for (k <- ids.indices) {
          val i = java.util.Arrays.binarySearch(b.ids, ids(k))
          in(i) = p.combine(in(i), folded(k))
        }
      }
      Iterator.single((b.ids, in.map(p.update)))
    }
  }

  /** The type of `pairs`' ids. */
  private def idTypeOf(pairs: DataFrame) = symOf(pairs).schema("src").dataType

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
      .select(col("id").cast(idTypeOf(pairs)).as("id"), col(value))
  }

  /** Min-label connected components over an undirected pair frame, the
    * CC core of d7 (and d7c, d7d, c1b, g1b):
    * (doc_id, label) for every endpoint, label = the component's least
    * id, both of the pairs' id type. Each round is one
    * [[MinLabel]] superstep kept against the node's own label, landed
    * (persisted) by the one job that counts its changed labels; the
    * loop stops at the first round with none. A component whose
    * min-label eccentricity exceeds `maxIters` fails loudly instead of
    * returning wrong labels: plain propagation needs diameter rounds,
    * and the fix for a deep corpus is the large-star/small-star
    * doubling variant ([[Dedup.connectedComponentsStar]]), not a bigger
    * cap. */
  private[graft] def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val adj = adjacencyOf(pairs)
    var labels = seedVals(adj)(identity)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val next = zipVals(labels, superstep(adj, MinLabel)(labels))(math.min)
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = labels.zipPartitions(next) { (os, ns) =>
        val (o, n) = (os.next()._2, ns.next()._2)
        Iterator.single(o.indices.count(i => n(i) != o(i)).toLong)
      }.fold(0L)(_ + _)
      labels.unpersist(false)
      labels = next
      iter += 1
    }
    val out = idFrame(pairs, labels, "label")
      .select(col("id").as("doc_id"), col("label").cast(idTypeOf(pairs)).as("label"))
      .localCheckpoint(true)
    labels.unpersist(false)
    adj.unpersist(true)
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds ($changed labels still changing)")
    out
  }

  // g1 keeps iterating fresh (the honest rank-generation query);
  // downstream consumers (g1b's canonical selection) read this landing
  private[operators] def ranksLanded(spark: SparkSession, dir: String): DataFrame =
    Landing.frame(spark, dir, "g1", "corpus rank frame") {
      pagerankOf(Dedup.qualifyingPairsLanded(spark, dir), PagerankIters)
    }

  /** G1b: centrality-canonical selection — one row per d7 cluster
    * carrying the member with the highest PageRank (ties to the
    * smaller doc_id). The curation story's last step: dedup clusters
    * (d7) + member centrality (g1) → which copy survives. */
  def canonicalByRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.qualifyingPairsLanded(spark, dir)
    val labels = connectedComponents(pairs)
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
    Landing.frame(spark, dir, "g2b", "base triangle state") {
      trianglesOf(pairs.filter(!g2bNewNode(col("a_id")) &&
        !g2bNewNode(col("b_id"))))
    }

  /** The g2b arrival split: ~1/7 of the graph counts as newly arrived. */
  private[graft] def g2bNewNode(c: Column): Column = c % 7 === 3

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
    val baseSup = Landing.frame(spark, dir, "g4b", "base edge-support state") {
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
    * Output: surviving nodes with their within-core degree. g3b and
    * g3c (arrivals on the grown graph) run this same peel.
    *
    * Fixed-round discipline (the g1/d7 convention): ROUNDS peel
    * iterations unrolled identically on both engines — a
    * data-dependent "until stable" loop could converge at different
    * round counts than a fixed oracle unroll, so the round count is a
    * constant and the spec asserts the fixture reaches its fixpoint
    * well inside it (rounds vs rounds+1 equality).
    *
    * Scale shape: the peel is PageRank's kernel ([[superstep]]) with
    * alive flags for ranks — the textbook distributed k-core
    * [Montresor et al.] as a Pregel program, all rounds one lazy
    * lineage over the persisted adjacency, landed once. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(Dedup.qualifyingPairsLanded(spark, dir), KcoreK, KcoreRounds)

  /** `rounds` peel rounds, then each survivor's degree among survivors;
    * a survivor left with no surviving neighbor is dropped. Round t
    * keeps a node iff at least k of its edges lead to round t−1's
    * survivors. A node's alive-neighbor count only falls as the rounds
    * go, so a peeled node never counts back up to k and the step needs
    * no old flag: exactly the unroll that prunes an edge once either
    * endpoint has degree < k over the previous round's edges. */
  private[graft] def kcoreOf(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val adj = adjacencyOf(pairs)
    val peel = peelProgram(in => if (in >= k) 1L else 0L)
    val alive = (1 to rounds).foldLeft(seedVals(adj)(_ => 1L))(
      (a, _) => superstep(adj, peel)(a))
    val coreDeg = zipVals(alive, superstep(adj, peelProgram(identity))(alive))(_ * _)
    val out = idFrame(pairs, coreDeg, "core_deg").filter(col("core_deg") > 0)
      .select(col("id").as("doc_id"), col("core_deg"))
      .localCheckpoint(true)
    adj.unpersist(true)
    out
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
