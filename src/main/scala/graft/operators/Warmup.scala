package graft.operators

import org.apache.spark.sql.SparkSession

/** Cold-start landing of the session-shared corpus frames (round-11
  * verdict task #7).
  *
  * The Landing seam (CacheOps.scala) makes warm benches honest —
  * the GENERATING query pays its landing once, downstream consumers
  * read it — but a fresh session that jumps straight to a consumer
  * pays every landing it transitively needs, SERIALLY, on first
  * touch. This stage fronts that cost the way a production deployment
  * would (a nightly pipeline lands its serving artifacts before the
  * dashboards open), and fronts it CONCURRENTLY: the five landings
  * are mutually independent jobs (ranks depends on pairs, so the two
  * share a thread), and Spark's scheduler interleaves stages submitted
  * from different threads, so the wall cost is the longest landing
  * plus contention, not the sum.
  *
  * Deliberately NOT called by Bench: the bench's cold pass exists to
  * measure exactly these generation costs per query — pre-warming
  * there would hide honest work inside an untimed prologue. The
  * pipeline is where fronting the cost is the real operational
  * pattern; the measured concurrent-vs-serial delta is recorded in
  * PLANS.md round 12.
  */
object Warmup {

  /** Land every session-shared frame for `dir`; returns
    * (landing, seconds) per landing, wall-ordered. Idempotent — a
    * landing already memoized for this session is a no-op hit. */
  def landShared(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val tasks: Seq[(String, () => Unit)] = Seq(
      // the lexical serving index (t11b/t11h/t11i/v13b/t13b)
      "bm25_index" -> (() => { TextOps.bm25LandedPath(spark, dir); () }),
      // the ANN serving index (v9/v9b/v11)
      "ivf_index" -> (() => { Similarity.landIvf(spark, dir); () }),
      // near-dup pair frame, then the rank frame derived from it
      // (d7/d7b/g1b/g2/g3/g4/c10 + g1b) — dependent, so sequential
      // within one thread
      "pairs_then_ranks" -> (() => {
        Dedup.qualifyingPairsLanded(spark, dir)
        Graph.ranksLanded(spark, dir); ()
      }),
      // c3's df-capped rare-gram frame
      "rare_grams" -> (() => { Curation.rareGramsLanded(spark, dir); () }),
      // the tokenized corpus every lexical scan-form query reads
      "tokenized_corpus" -> (() => { TextOps.tokenizedBaseLanded(spark, dir); () }))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = tasks.map { case (name, run) =>
        Future {
          val t0 = System.nanoTime()
          run()
          name -> (System.nanoTime() - t0) / 1e9
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally { pool.shutdown() }
  }
}
