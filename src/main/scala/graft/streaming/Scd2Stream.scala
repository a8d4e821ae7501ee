package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.Scd2

/** Streaming SCD2 maintenance — the dimension stays continuously
  * current as update events land, instead of being rebuilt per
  * release. Each micro-batch's `click` updates are applied through
  * [[Scd2.applyUpdates]] (seeded by the open versions, closed history
  * untouched), and the resulting dimension lands copy-on-write as
  * `v_<batchId>` with a commit marker dropped only after the write
  * completes — ChangelogStream's protocol verbatim: a crash leaves
  * either no new version (replay rewrites it) or an unmarked one
  * (ignored and rewritten), never a half-applied dimension; marked
  * batchIds are skipped so checkpoint replays are idempotent.
  *
  * Ordering contract (inherited from applyUpdates): update files land
  * in per-user event-time order — the natural property of a
  * time-partitioned feed. Late data needs the changelog-replica path.
  *
  * Scale: per batch, |open versions| + |batch updates| shuffle once on
  * user_id. Closed versions are rewritten per landing here (local
  * fixture scale); production splits the closed partition out and
  * appends, the MergeOps partition-scoped discipline. */
object Scd2Stream {

  private val DimSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("version", IntegerType),
    StructField("k", IntegerType),
    StructField("valid_from", TimestampType),
    StructField("valid_to", TimestampType)))

  def scd2MaintenanceStreaming(spark: SparkSession, srcDir: String,
      stateDir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    // state versioning + crash protocol: see VersionedState (shared
    // with ChangelogStream — one implementation of the marker discipline)
    val state = new VersionedState(spark, stateDir, "scd2-stream")
    import state.{committed, versionPath, writeMarker}

    // v_-1: the empty dimension, committed before the stream runs
    state.ensureInitial(p =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DimSchema)
        .write.mode("overwrite").parquet(p))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquet(spark, srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

    val q = stream.writeStream
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committed().contains(batchId)) {
          val cur = spark.read.schema(DimSchema).parquet(versionPath(committed().last))
          val upd = Scd2.updates(Tables.normalizeEventTs(batch))
          val next = Scd2.applyUpdates(cur, upd)
          next.write.mode("overwrite").parquet(versionPath(batchId))
          writeMarker(batchId)
          state.gcOldVersions() // marker-first: see VersionedState
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(DimSchema).parquet(versionPath(committed().last))
      .orderBy(col("user_id"), col("version"))
  }
}
