package graft

import org.apache.spark.sql.functions._

/** Stage-level diagnostic for the ingest-stream ladder: times each
  * stage of DedupStream.dedupAppend at a given corpus factor so a
  * ladder slope is ATTRIBUTED, not guessed (round 14 used it to find,
  * in order: the per-batch parquet sidecar jobs, the bloom literal
  * shipping once per stage, and the probe fixture's own corpus sort
  * hiding inside the timed window). Committed so SCALE.md's verb-level
  * flatness claim stays reproducible.
  *
  * Usage: runMain graft.StageProbe [baseDir] [factor] */

object StageProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 300
    val spark = Tables.localSession(Tables.graftCpus)
    val outRoot = Probe.outRoot("stageprobe")
    def timed[T](tag: String)(f: => T): T = {
      val (sec, v) = Probe.timed(f)
      System.err.println(f"[stage] $tag: $sec%.3f s")
      v
    }
    // SPARK_GRAFT_STAGE_VERB=st9|st10 switches to a per-JOB attribution
    // of the composite ingest verbs (round-15 task #2): a listener
    // prints every Spark job's wall + call site during ONE append, so
    // the fixed per-batch stack is counted job by job instead of
    // re-deriving the verb stage by stage (which drifts from the code).
    val verb = sys.env.getOrElse("SPARK_GRAFT_STAGE_VERB", "st8")
    try {
      val dir = ScaleProbe.buildCorpus(spark, baseDir, k, outRoot)
      if (verb == "d2b") {
        // per-STAGE task-skew report for the prefix-join tier (round-15
        // task #3: the Σdf² tail is a SKEW question — a hot gram lands
        // its df² candidate pairs on one reducer — so the evidence is
        // max/median task wall per stage, not query wall alone). Run
        // with SPARK_GRAFT_PROBE_ZIPF_BP=1 for the planted hot-gram
        // corpus, without it for the baseline.
        val stageTasks = new java.util.concurrent.ConcurrentHashMap[
          Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
        val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            stageTasks.computeIfAbsent(te.stageId,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
              .add(te.taskInfo.duration); ()
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stageNames.put(sc.stageInfo.stageId, sc.stageInfo.name); ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        // try/finally mirrors the st9/st10 branch: a throwing probe must
        // not leak per-task accounting into later in-session work
        val (wall, rows) =
          try Probe.timed(operators.Dedup.prefixJaccardPairs(spark, dir).count())
          finally {
            Thread.sleep(500) // drain the async listener bus
            spark.sparkContext.removeSparkListener(listener)
          }
        import scala.jdk.CollectionConverters._
        val report = stageTasks.asScala.toSeq.sortBy(_._1).map { case (sid, q) =>
          val ds = q.asScala.toSeq.sorted
          val med = if (ds.isEmpty) 0L else ds((ds.size - 1) / 2)
          (sid, ds.size, ds.lastOption.getOrElse(0L), med,
            stageNames.getOrDefault(sid, "?"))
        }
        System.err.println(f"[d2b] wall ${wall}%.2f s, $rows pair rows")
        report.filter(_._3 >= 200).foreach { case (sid, n, mx, med, name) =>
          System.err.println(
            f"[d2b] stage $sid%4d tasks=$n%3d max=${mx}%6d ms med=${med}%6d ms " +
              f"skew=${if (med > 0) mx.toDouble / med else 0.0}%.1f  $name")
        }
        return
      }
      if (verb == "st9" || verb == "st10") {
        val p9 = s"$outRoot/ingestst"
        timed(s"landing (full corpus $verb append)") {
          if (verb == "st9")
            graft.streaming.NearDupStream.neardupAppend(spark,
              Tables.documents(spark, dir).select(col("doc_id"), col("text")), p9, 0.8)
          else
            graft.streaming.CurationStream.curateAppend(spark,
              Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("lang")), p9, 0.8)
        }
        (1 to 3).foreach { rep =>
          val shift = 1000000000000L * rep
          val batch0 = Tables.documents(spark, dir)
            .filter(col("doc_id") < 500)
            .select((col("doc_id") + shift).as("doc_id"),
              concat(col("text"), lit(s" [b$shift]")).as("text"), col("lang"))
          val batch = (if (verb == "st9") batch0.select(col("doc_id"), col("text"))
            else batch0).localCheckpoint(true)
          System.err.println(s"--- rep $rep ---")
          val listener = new org.apache.spark.scheduler.SparkListener {
            private val starts =
              new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              // the result stage's name IS the action call site
              val site = js.stageInfos.sortBy(_.stageId).lastOption
                .map(_.name).getOrElse("?")
              starts.put(js.jobId, (System.nanoTime(), site)); ()
            }
            override def onJobEnd(
                je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
                System.err.println(
                  f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
              }
            }
          }
          spark.sparkContext.addSparkListener(listener)
          try timed(s"$verb append (rep $rep)") {
            if (verb == "st9")
              graft.streaming.NearDupStream.neardupAppend(spark, batch, p9, 0.8)
            else
              graft.streaming.CurationStream.curateAppend(spark, batch, p9, 0.8)
          } finally {
            Thread.sleep(300) // drain the async listener bus
            spark.sparkContext.removeSparkListener(listener)
          }
        }
        return
      }
      val p = s"$outRoot/dedupst"
      timed("landing (full corpus dedupAppend)") {
        graft.streaming.DedupStream.dedupAppend(spark,
          Tables.documents(spark, dir), p)
      }
      (1 to 3).foreach { rep =>
        val shift = 1000000000000L * rep
        val batch = Tables.documents(spark, dir)
          .orderBy(col("doc_id")).limit(500)
          .withColumn("doc_id", col("doc_id") + shift)
          .withColumn("text", concat(col("text"), lit(s" [b$shift]")))
          .localCheckpoint(true)
        System.err.println(s"--- rep $rep ---")
        val winners = timed("winners agg + pin") {
          batch.withColumn("digest", md5(col("text")))
            .groupBy(col("digest"))
            .agg(min(struct(col("doc_id"), col("text"), col("lang"),
              col("source"))).as("w"))
            .select(col("w.doc_id"), col("w.text"), col("w.lang"),
              col("w.source"), col("digest"))
            .localCheckpoint(true)
        }
        val idx = timed("readOrRebuild") {
          graft.streaming.LedgerIndex.readOrRebuild(spark, p,
            Some(Tables.parquet(spark, p).select(col("digest"))), "digest")
        }
        val fresh = timed("filterFresh + pin") {
          graft.streaming.LedgerIndex.filterFresh(winners, "digest",
            idx.get, Tables.parquet(spark, p).select(col("digest")))
            .localCheckpoint(true)
        }
        timed("isEmpty") { fresh.isEmpty }
        timed("mergeIncrement") {
          graft.streaming.LedgerIndex.mergeIncrement(spark, p,
            fresh.select(col("digest")), "digest", idx)
        }
        timed("append write") {
          fresh.write.mode("append").parquet(p)
        }
      }
    } finally {
      Tables.rmTree(new java.io.File(outRoot))
      spark.stop()
    }
  }
}
