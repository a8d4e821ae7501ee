package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries into a directory —
  * the optimization rounds' evidence artifact (`plans/r{N}/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.ExplainDump <outDir> <suffix> <q1,q2,...>
  * (data dir from SPARK_GRAFT_SF_DIR, defaults to sf0.1 — plan SHAPE is
  * SF-independent except broadcast-threshold choices, and the bench runs
  * at sf0.1, so plans are dumped there too). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession(Tables.graftCpus)
    Files.createDirectories(Paths.get(outDir))
    // Queries whose public frame is eagerly materialized
    // (materializeAndRelease) explain as a bare ExistingRDD scan; for
    // those, "<name>__internal" dumps the un-materialized INTERNAL
    // frame the query computes — the plan the optimization evidence is
    // about (round 16).
    val internal: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      // caches leak in the dump process (it exits right after) — the
      // hook stays signature-agnostic across the change it evidences
      "e4_dashboard__internal" -> ((s, d) =>
        graft.operators.Profile.dashboardFrames(s, d, "BUILDING")._1),
      // d3/st9 band projection (round 17): the frame minhashLshPairs
      // caches / bucketRowsOf returns, un-materialized. The
      // "__filterform" variants rebuild the PRE-round-17 shape (commit
      // ccc26d2: `.filter(sig IS NOT NULL)` above the MinHashSig
      // projection) verbatim, as the before-evidence — predicate
      // pushdown alias-substitutes that filter and the dumped plan
      // shows MinHashSig evaluated twice.
      "d3_minhash_lsh__internal" -> ((s, d) =>
        graft.operators.Dedup.lshBandRows(s, d)),
      "d3_minhash_lsh__filterform" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        import graft.operators.Dedup
        val rows = Dedup.MinHashK / Dedup.LshBands
        val seedsA = (0 until Dedup.MinHashK).map(Dedup.seedA)
        val seedsB = (0 until Dedup.MinHashK).map(Dedup.seedB)
        val bandBucket = (0 until Dedup.LshBands).map { b =>
          md5(concat_ws(",",
            (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))
        }
        graft.Tables.documents(s, d)
          .repartition(col("doc_id"))
          .select(col("doc_id"),
            graft.functions.MinHashSig(Dedup.shingles(col("text")),
              seedsA, seedsB, Dedup.MinHashP).as("sig"))
          .filter(col("sig").isNotNull)
          .select(col("doc_id"),
            posexplode(array(bandBucket: _*)).as(Seq("band", "bucket")))
      }),
      "st9_bucket_rows__internal" -> ((s, d) =>
        graft.streaming.NearDupStream.bucketRowsOf(
          graft.Tables.documents(s, d).select(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))))
    )
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = internal.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
