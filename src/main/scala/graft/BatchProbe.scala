package graft

import org.apache.spark.sql.functions._

import graft.Probe.{r3, timed}

/** One-off serving-batch probe for t11h (round-9 verdict #6: the
  * "100-query batch ≈ distinct-term IO" claim was argued from plan
  * structure, not measured). Lands the BM25 index for the given corpus
  * once, then times [[graft.operators.TextOps.bm25BatchOverIndex]] at
  * growing batch sizes with a ZIPFIAN shared vocabulary — queries draw
  * their terms frequency-weighted from the corpus' own token
  * distribution (a deterministic LCG; no Random), so bigger batches
  * re-use vocabulary exactly the way concurrent production queries do.
  * The marginal per-query cost must fall with batch size, tracking the
  * batch's DISTINCT terms rather than its query count.
  *
  * Usage: runMain graft.BatchProbe [baseDir] [batch-sizes-csv]
  * Prints one JSON line per batch size; results recorded in PLANS.md.
  */
object BatchProbe {

  /** Deterministic frequency-weighted term sampler: terms ranked by
    * corpus frequency; draw index = floor(V · u²) skews toward the
    * head (u uniform from a 64-bit LCG), giving the Zipf-flavored
    * vocabulary sharing the probe needs without rand(). */
  private def sampleQueries(vocab: IndexedSeq[String], n: Int,
      termsPerQuery: Int = 3): Seq[(Int, Seq[String])] = {
    var state = 0x9e3779b97f4a7c15L
    def nextU(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 11).toDouble / (1L << 53).toDouble)
    }
    (0 until n).map { qid =>
      val terms = Iterator.continually {
        vocab(math.min(vocab.size - 1, (vocab.size * nextU() * nextU()).toInt))
      }.distinct.take(termsPerQuery).toSeq
      (qid, terms)
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sizes = (if (args.length > 1) args(1) else "1,10,30,100")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val spark = Tables.localSession(Tables.graftCpus)

    val idx = Probe.scratchRoot +
      s"/graft_bm25_batchprobe_${baseDir.replaceAll("[^A-Za-z0-9._-]", "_")}"
    if (!new java.io.File(idx).exists())
      operators.TextOps.materializeBm25Index(spark, baseDir, idx)

    // corpus vocabulary by frequency — the sampler's Zipf head is the
    // corpus' real head, so shared terms are the genuinely common ones
    val vocab = Tables.documents(spark, baseDir)
      .select(explode(operators.TextOps.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("tok")).limit(2000)
      .collect().map(_.getString(0)).toIndexedSeq

    // JVM/codegen warm-up
    spark.range(1000000).selectExpr("sum(id)").collect()

    sizes.foreach { n =>
      val queries = sampleQueries(vocab, n)
      val distinctTerms = queries.flatMap(_._2).distinct.size
      val times = (1 to reps).map(_ =>
        timed(operators.TextOps.bm25BatchOverIndex(spark, idx, queries, 10).count()))
      val best = times.map(_._1).min
      println(s"""{"batch":$n,"distinct_terms":$distinctTerms,""" +
        s""""sec":${r3(best)},"sec_per_query":${r3(best / n)},""" +
        s""""rows":${times.head._2}}""")
    }
    spark.stop()
  }
}
