package graft

import org.apache.spark.sql.functions._

import graft.Probe.{r3, timed}
import graft.operators.Graph

/** The g1c adversarial-regime probe, committed this time (round-13
  * verdict task #3 wants its evidence diffable across rounds): an
  * n-node RING — one connected component, the worst case for
  * component-locality arguments — grown by one arriving node wired to
  * two ring neighbors. PageRank's frontier is a hop-ball, not a
  * component, so the apply touches ~4·iters+2 nodes at ANY n; what
  * scales with n is only the per-round edge slice, two map-side scans
  * of the pair frame per round.
  *
  * Prints one JSON line per n: fresh g1 wall, the one-time landing
  * wall (the base rank history), the frontier apply (both
  * min-of-REPS), and a hash-equality check of apply vs fresh.
  *
  * Usage: runMain graft.RingProbe [n1,n2,...] (default 500000,2000000)
  */
object RingProbe {
  def main(args: Array[String]): Unit = {
    val ns = (if (args.nonEmpty) args(0) else "500000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = Tables.localSession(Tables.graftCpus)
    try {
      ns.foreach { n =>
        val arrival = n // the new node's id
        val isNew = (c: org.apache.spark.sql.Column) => c === arrival
        val all = spark.range(n)
          .select(col("id").as("a_id"), ((col("id") + 1) % n).as("b_id"))
          .unionByName(spark.range(1).select(lit(0L).as("a_id"), lit(arrival).as("b_id")))
          .unionByName(spark.range(1).select(lit(n / 2).as("a_id"), lit(arrival).as("b_id")))
          .localCheckpoint(true) // the verbs assume a landed pair frame
        val old = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
        def freshRanks() = Graph.pagerankOf(all, Graph.PagerankIters)
          .select(col("id").as("doc_id"), col("r").as("rank_ppm"))
        val fresh = (1 to reps).map(_ => timed(freshRanks().count())._1).min
        // the ONE-TIME landing: the base rank history
        val (landWall, (hist, deg)) = timed(Graph.pagerankHistoryOf(old, Graph.PagerankIters))
        val applyScan = (1 to reps).map(_ => timed(
          Graph.pagerankIncrementalOf(all, hist, deg, isNew).count())._1).min
        // exactness: the apply is hash-equal to fresh.
        // SYMMETRIC diff (both exceptAll directions): a one-sided
        // apply-minus-fresh reports 0 even when the apply silently
        // DROPS rows (apply ⊂ fresh), so loss bugs would pass the probe
        val applyDf = Graph.pagerankIncrementalOf(all, hist, deg, isNew).localCheckpoint(true)
        val freshDf = freshRanks().localCheckpoint(true)
        val diffs = applyDf.exceptAll(freshDf).count() +
          freshDf.exceptAll(applyDf).count()
        println(s"""{"n":$n,"fresh_sec":${r3(fresh)},"landing_sec":${r3(landWall)},""" +
          s""""apply_scan_sec":${r3(applyScan)},"apply_vs_fresh_diff_rows":$diffs}""")
      }
    } finally spark.stop()
  }
}
