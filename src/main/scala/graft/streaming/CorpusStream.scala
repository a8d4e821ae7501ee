package graft.streaming

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup

/** Streaming twin of the d8 incremental dedup: corpus ingest with
  * dedup AT THE DOOR. Documents arrive as files; every micro-batch is
  * classified against the landed corpus (base + everything previous
  * batches landed) through `Dedup.classifyAgainstIndex`'s bloom-probe
  * + broadcast-verify path, and only `new` docs land. A doc that
  * re-arrives in a LATER batch is caught because the earlier batch's
  * landing extended the persisted digest state — cross-batch dedup
  * state lives in storage, not executor memory, so it survives
  * restarts and is shared by any other reader.
  *
  * State layout (round 7 — the production index round 6 only named):
  * next to each `batch_<e>` of landed docs, the sink keeps
  * `digests_<e>` (that batch's digests) and `index_<e>` (the landed
  * count + bloom MERGED up through epoch e). Per micro-batch the
  * engine reads one tiny index row for the bloom, streams the compact
  * digest dirs ONCE for exact verification, and never touches landed
  * TEXT again — round 6 re-read and re-folded the entire landed
  * corpus (text) every micro-batch. The base corpus bootstraps the
  * same way under epoch -1, once.
  *
  * Crash-retry correctness: everything consulted for epoch e is
  * restricted to epochs STRICTLY BEFORE e ([[epochDirs]]). Round 6
  * instead listed all `batch_*` dirs, so a foreachBatch retry saw the
  * failed attempt's own `batch_<e>` output, classified every doc
  * `dup_of_landed`, and overwrote the batch with an empty frame —
  * permanent data loss. With pre-epoch state only, a retry's inputs
  * are identical to the failed attempt's, so the deterministic
  * overwrite writes the same files (the streamingMergeUpsert
  * discipline, directory-level). A classification LOG (doc_id,
  * status, epoch) lands the same way — the reference's update_log
  * analog for the streaming path.
  *
  * All sink listing goes through the Hadoop FileSystem API, so the
  * twin runs against object storage like every other sink (round 6's
  * java.io.File listing silently disabled cross-batch dedup on
  * non-local filesystems).
  */
object CorpusStream {

  private val DigestDir = "digests_(-?\\d+)".r
  private val IndexDir = "index_(-?\\d+)".r

  /** Epoch-stamped child dirs of `sinkDir` matching `pattern` with
    * epoch < `beforeEpoch`, via the Hadoop FS API. */
  private def epochDirs(spark: SparkSession, sinkDir: String,
      pattern: scala.util.matching.Regex,
      beforeEpoch: Long): Seq[(Long, String)] = {
    val base = new Path(sinkDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case pattern(e) if e.toLong < beforeEpoch =>
          Some(e.toLong -> st.getPath.toString)
        case _ => None
      }
    }
  }

  /** Persist a [[Dedup.DigestIndex]] as a 1-row parquet dir. */
  private def writeIndex(spark: SparkSession, dir: String,
      idx: Dedup.DigestIndex): Unit = {
    import spark.implicits._
    Seq((idx.nLanded, idx.expectedItems, Option(idx.bloom)))
      .toDF("n_landed", "expected_items", "bloom")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readIndex(spark: SparkSession, dir: String): Dedup.DigestIndex = {
    val r = Tables.parquet(spark, dir).head()
    Dedup.DigestIndex(r.getAs[Long]("n_landed"),
      r.getAs[Long]("expected_items"), r.getAs[Array[Byte]]("bloom"))
  }

  /** Start the ingest stream over `incomingDir` (parquet files with
    * (doc_id, text)), classifying against `baseDir` ∪ previously
    * landed batches under `sinkDir`. Returns the started query;
    * landed docs appear under `sinkDir/batch_*`, the status log under
    * `sinkDir/log_*`, dedup state under `digests_*` / `index_*`. */
  def corpusIngestStreaming(spark: SparkSession, incomingDir: String,
      baseDir: String, sinkDir: String,
      queryName: String = "corpus_ingest",
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val schema = Tables.parquet(spark, incomingDir).schema

    // bootstrap (before the stream starts): the base corpus's digests
    // + index land ONCE under epoch -1 — the only time base text is
    // read. Skipped when a completed write (_SUCCESS) already exists;
    // a half-written bootstrap from a crashed run is overwritten.
    val baseDigestDir = s"$sinkDir/digests_-1"
    val baseIndexDir = s"$sinkDir/index_-1"
    val fs = new Path(sinkDir).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(baseDigestDir, "_SUCCESS")) ||
        !fs.exists(new Path(baseIndexDir, "_SUCCESS"))) {
      Tables.parquet(spark, baseDir)
        .select(md5(col("text")).as("digest"))
        .write.mode("overwrite").parquet(baseDigestDir)
      writeIndex(spark, baseIndexDir,
        Dedup.digestIndexOf(Tables.parquet(spark, baseDigestDir)))
    }

    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(incomingDir)
      .select(col("doc_id"), col("text"))
      .writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$sinkDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // pre-epoch state ONLY (crash-retry safety — see scaladoc)
        val digestDirs = epochDirs(spark, sinkDir, DigestDir, epochId)
        val landedDigests = Tables.parquet(spark, digestDirs.map(_._2): _*)
        val idx = readIndex(spark,
          epochDirs(spark, sinkDir, IndexDir, epochId).maxBy(_._1)._2)
        // materialize statuses once: both consumers (the landing
        // semi-join and the log) reuse it, so the digest dirs are
        // scanned exactly once per batch
        val statuses = Dedup.classifyAgainstIndex(landedDigests, batch, idx)
          .localCheckpoint(true)
        val newDocs = batch.join(
          statuses.filter(col("status") === "new").select(col("doc_id")),
          Seq("doc_id"), "leftsemi")
        newDocs.write.mode("overwrite").parquet(s"$sinkDir/batch_$epochId")
        // the increment's digests + the merged index land NEXT TO the
        // batch: later epochs never re-read landed text, and the index
        // is MAINTAINED (one small fold over the increment) instead of
        // rebuilt from the whole corpus
        val landedBatch = Tables.parquet(spark, s"$sinkDir/batch_$epochId")
        landedBatch.select(md5(col("text")).as("digest"))
          .write.mode("overwrite").parquet(s"$sinkDir/digests_$epochId")
        val inc = Dedup.digestIndexOf(
          Tables.parquet(spark, s"$sinkDir/digests_$epochId"), idx.expectedItems)
        writeIndex(spark, s"$sinkDir/index_$epochId", Dedup.mergeIndexes(idx, inc))
        statuses.withColumn("epoch", lit(epochId))
          .write.mode("overwrite").parquet(s"$sinkDir/log_$epochId")
        ()
      }
      .start()
  }
}
