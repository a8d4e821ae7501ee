package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.Tables

/** Structured Streaming variant of the incremental pipeline (SURVEY §2.8).
  *
  * The reference processes micro-batches against a watermark table
  * (update_donations.py:37-65); the streaming formulation replaces the
  * hand-rolled watermark with `withWatermark` + event-time windows and
  * the checkpoint with Spark's offset tracking. The batch and streaming
  * flavors share the same aggregation so results are comparable
  * (asserted in EventsStreamSpec).
  */
object EventsStream {

  /** Tumbling 1-hour event-time aggregate — batch flavor. Window start
    * is epoch-aligned, so it equals date_trunc('hour', ts) and stays
    * oracle-checkable. */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal sum internally; double emitted (driver-render parity)
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** The same aggregate as a streaming query over the events parquet,
    * 10-minute watermark, complete-mode memory sink (bounded: one row
    * per hour×type). Synchronous for tests: processAllAvailable drains
    * the source, then the in-memory table is returned. */
  def windowedCountsStreaming(spark: SparkSession, dir: String, queryName: String = "events_stream"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquet(spark, s"$dir/events.parquet").schema
    // FileStreamSource wants a directory: stream the sf dir, globbed to
    // the events table file. ts encoding varies by testdata vintage —
    // Tables.normalizeEventTs detects and normalizes to TIMESTAMP.
    val stream = Tables.normalizeEventTs(spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .withWatermark("ts", "10 minutes")
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy(col("hour_start"), col("event_type"))
  }

  /** Session windows in batch form: per-user activity sessions with a
    * 5-minute inactivity gap (`session_window` — the event-time
    * sessionization Structured Streaming shares with batch). Emits the
    * gaps-and-islands shape: session start = first event, plus count
    * and value sum. The oracle reproduces it with lag + cumulative sum,
    * which pins down the exact semantics: a new session starts when
    * ts - previous ts > gap — STRICTLY greater; an event at exactly
    * last+gap merges into the session (probed empirically: two events
    * exactly 5:00 apart yield one session of 2). */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("last_event"))
      .select(col("user_id"), col("session_start"), col("last_event"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** ST5: the st2 session rollup as a STREAMING query — stateful
    * session-window aggregation, the Structured Streaming capability
    * the tumbling-window st1 can't exercise: session state MERGES
    * when a new event lands within gap of an open session, including
    * across micro-batches. Complete-mode memory sink (bounded: one
    * row per final session), AvailableNow trigger, synchronous drain
    * — the st1 harness shape. Answers st2's oracle verbatim: hash
    * equality proves the streaming sessionizer emits exactly the
    * batch gaps-and-islands sessions. EventsStreamSpec pins the
    * cross-batch MERGE case (a session split across two files) that
    * the single-file gate run can't exercise. */
  def sessionWindowsStreaming(spark: SparkSession, dir: String,
      queryName: String = "events_sessions",
      globFilter: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", globFilter)
      .parquet(dir).schema
    val reader0 = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", globFilter)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val stream = Tables.normalizeEventTs(reader.parquet(dir))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("last_event"))
      .select(col("user_id"), col("session_start"), col("last_event"),
        col("n_events"), col("total_value"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy(col("user_id"), col("session_start"))
  }

  /** ST5's PRODUCTION output shape: the same watermarked session
    * aggregation in APPEND mode. Complete mode (the gate form above)
    * re-emits ALL state every batch into a driver-resident sink —
    * fine for the bounded oracle fixture, wrong at 100 TB; append
    * mode emits each session EXACTLY ONCE, when the watermark passes
    * its end + gap and the state store FINALIZES AND EVICTS it, so
    * state size tracks the open-session horizon, not the stream's
    * history (round-10 verdict #3; Spark rejects update mode for
    * session-window aggregations — append IS the
    * eviction-on-watermark mode). Open sessions stay in state,
    * unemitted, until the watermark closes them; a late event behind
    * the watermark is dropped before aggregation and can neither
    * extend a finalized session nor resurrect its state.
    * EventsStreamSpec pins exactly that: the finalized session emits
    * once with its pre-late-event count, and the late event produces
    * no second emission. */
  def sessionWindowsStreamingFinal(spark: SparkSession, dir: String,
      queryName: String = "events_sessions_final",
      globFilter: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", globFilter)
      .parquet(dir).schema
    val reader0 = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", globFilter)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val stream = Tables.normalizeEventTs(reader.parquet(dir))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("last_event"))
      .select(col("user_id"), col("session_start"), col("last_event"),
        col("n_events"), col("total_value"))
    val q = stream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy(col("user_id"), col("session_start"))
  }

  /** Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark
    * keeps per-key state only until the watermark passes it, so state
    * size is bounded by the watermark horizon — the production form
    * when duplicates arrive close together (retries, at-least-once
    * sources) rather than arbitrarily late. Contrast with
    * streamingInsertIgnore, whose NoTimeout state grows with |keys|
    * forever but deduplicates across any distance. */
  def streamingDedupWithinWatermark(spark: SparkSession, dir: String,
      queryName: String = "events_wm_dedup",
      globFilter: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", globFilter).parquet(dir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", globFilter)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val deduped = Tables.normalizeEventTs(reader.parquet(dir))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("ts"))

    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy(col("user_id"), col("event_type"), col("ts"))
  }

  /** Stream-stream interval join — the streaming twin of
    * AsofJoin.viewBeforePurchase's candidate band: purchases joined to
    * same-user views within the 10-minute look-back, both sides
    * watermarked so Spark can expire join state (a view older than
    * watermark + horizon can never match a future purchase; without the
    * time-range constraint the join state would grow with the corpus —
    * the same bounded-horizon argument as the batch operator's
    * scaladoc). Inner join in append mode: matches emit as soon as both
    * sides arrive; EventsStreamSpec asserts the emitted pair set equals
    * the batch band join exactly.
    *
    * Batch-equivalence precondition: the source must arrive as ONE
    * micro-batch. With a multi-file source AvailableNow may split
    * processing, and rows older than the 20-minute watermark relative
    * to earlier batches would be silently dropped from the join — the
    * equality claim is only structural because the fixture is a single
    * parquet file, which this ENFORCES below. A production multi-file
    * feed instead sizes the watermark delay to its cross-file event-time
    * disorder (and orders file arrival), trading state for tolerance. */
  def viewPurchaseJoinStreaming(spark: SparkSession, dir: String,
      // unique default so repeated gate/bench invocations in one JVM
      // don't collide on the memory sink's registered view name
      queryName: String = "events_ss_join_" +
        java.util.UUID.randomUUID().toString.take(8)): DataFrame = {
    // the drain runs in its OWN child session (shared SparkContext,
    // separate SQLConf + catalog): the partition scoping below must not
    // leak to concurrent queries in the caller's session, and the
    // memory-sink view registers in the child catalog
    val ss = spark.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    require(srcPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
        .getFileStatus(srcPath).isFile,
      s"viewPurchaseJoinStreaming needs a single-file source (one micro-batch); " +
        s"$srcPath is a directory — size the watermark to its cross-file disorder first")
    val schema = Tables.parquet(ss, s"$dir/events.parquet").schema
    def src(): DataFrame = Tables.normalizeEventTs(
      ss.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "20 minutes")
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "20 minutes")
    val joined = purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") -
          expr(s"INTERVAL ${graft.operators.AsofJoin.HorizonMinutes} MINUTES"))

    // a stream-stream join creates 4 state stores PER shuffle
    // partition; at the session's CPU-count partitioning that is >100
    // on-disk store initializations for a one-batch drain — harness
    // cost, not plan cost (measured 7.9 s → 2.6 s at 4 partitions; 1
    // partition only reaches 2.4 s, locating the floor in offset-log +
    // micro-batch planning, not stores). State keys partition by
    // user_id, so a production deployment sizes this to state VOLUME
    // per partition, not core count. Child-session conf: never visible
    // to concurrent queries in the caller's session.
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    // localCheckpoint detaches the result from the memory-sink view so
    // the view can be dropped — otherwise every invocation leaks a
    // driver-resident copy of the pair set for the session lifetime
    val out = ss.table(queryName)
      .select(col("p_id"), col("v_id"))
      .orderBy(col("p_id"), col("v_id"))
      .localCheckpoint(true)
    ss.catalog.dropTempView(queryName)
    out
  }

  /** Multi-batch form of [[viewPurchaseJoinStreaming]] — the spec-level
    * harness that exercises what the single-file gate form provably
    * CANNOT: watermark EVICTION. One parquet file per micro-batch
    * (maxFilesPerTrigger=1, modification-time order), so the watermark
    * advances between batches and a row arriving in a later batch with
    * event time below it is DROPPED — the semantics the single-batch
    * form never reaches because the watermark only moves after its one
    * and only batch. EventsStreamSpec plants a would-be-matching view
    * beyond the watermark in file 2 and asserts its pair is absent
    * while fresh in-window pairs still emit. Expects ts already
    * TIMESTAMP-typed (the spec writes its own fixture; the gate form
    * keeps normalizeEventTs for the shipped vintages). */
  private[graft] def viewPurchaseJoinStreamingMulti(spark: SparkSession,
      srcDir: String, queryName: String): DataFrame = {
    val ss = spark.newSession()
    val schema = Tables.parquet(ss, srcDir).schema
    def src(): DataFrame = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "20 minutes")
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "20 minutes")
    val joined = purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") -
          expr(s"INTERVAL ${graft.operators.AsofJoin.HorizonMinutes} MINUTES"))
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val out = ss.table(queryName)
      .select(col("p_id"), col("v_id"))
      .orderBy(col("p_id"), col("v_id"))
      .localCheckpoint(true)
    ss.catalog.dropTempView(queryName)
    out
  }

  /** S10 in streaming form: continuous MERGE — every micro-batch
    * upserts its per-key aggregate into a parquet state table through
    * `foreachBatch`, the standard streaming-MERGE pattern (on
    * Delta/Iceberg the body becomes a single transactional `MERGE INTO`
    * — see ARCHITECTURE's table-format note). The merge itself is
    * MergeOps' full-outer + coalesce shape, with additive combination
    * (counts and decimal sums), so the final state equals the one-shot
    * batch aggregate regardless of how the input was micro-batched
    * (asserted in EventsStreamSpec).
    *
    * Exactly-once: the query keeps a persistent checkpointLocation
    * (stable batch identity — restarts RESUME offsets rather than
    * renumbering batches over a possibly-changed file listing), and the
    * state table is versioned copy-on-write: batch N writes a fresh
    * `v_N` directory derived from the last COMMITTED version, then
    * drops a commit marker. A crash anywhere leaves either no `v_N`
    * (replay rewrites it) or an unmarked `v_N` (ignored, rewritten) —
    * never a half-overwritten or double-counted state. This is the
    * local-FS analog of a table format's transactional MERGE commit.
    *
    * Scale: state is one row per (user_id, event_type) key; each batch
    * shuffles only its own delta plus a key-partitioned join against
    * the state table. With a table format the rewrite is per-file, not
    * per-table (ARCHITECTURE §MERGE). */
  def streamingMergeUpsert(spark: SparkSession, srcDir: String, stateDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val state = new VersionedState(spark, stateDir, "streamingMergeUpsert")
    def committed(): Seq[Long] = state.committed()
    def versionPath(id: Long) = state.versionPath(id)

    val schema = Tables.parquet(spark, srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)

    val q = stream.writeStream
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!committed().contains(batchId)) {
          val delta = batch.groupBy(col("user_id"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast("decimal(18,2)")).as("total_value"))
          val merged = committed().lastOption match {
            case None => delta
            case Some(prev) =>
              val cur = Tables.parquet(spark, versionPath(prev))
                .select(col("user_id"), col("event_type"),
                  col("n_events").as("cur_n"), col("total_value").as("cur_t"))
              cur.join(delta
                  .select(col("user_id"), col("event_type"),
                    col("n_events").as("new_n"), col("total_value").as("new_t")),
                  Seq("user_id", "event_type"), "full_outer")
                .select(col("user_id"), col("event_type"),
                  (coalesce(col("cur_n"), lit(0L)) + coalesce(col("new_n"), lit(0L))).as("n_events"),
                  (coalesce(col("cur_t"), lit(0).cast("decimal(18,2)"))
                    + coalesce(col("new_t"), lit(0).cast("decimal(18,2)"))).as("total_value"))
          }
          // copy-on-write: the new version is complete on disk BEFORE
          // the commit marker appears
          merged.write.mode("overwrite").parquet(versionPath(batchId))
          state.writeMarker(batchId)
          // retention: a long-running stream must not keep v_0..v_N
          // forever. Keep the two newest committed versions (current +
          // one for crash recovery); GC marker-FIRST so a crash between
          // the deletes leaves an unmarked dir readers ignore, never a
          // marker pointing at half-deleted data (VersionedState scaladoc).
          state.gcOldVersions()
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    committed().lastOption match {
      case Some(v) => Tables.parquet(spark, versionPath(v))
        .orderBy(col("user_id"), col("event_type"))
      case None => // source produced zero batches (e.g. empty srcDir):
        // an empty state table with the sink's schema, not a crash
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("total_value", org.apache.spark.sql.types.DecimalType(18, 2)))))
    }
  }

  /** S11 in streaming form: stateful first-WRITER-wins dedup — each
    * (user_id, event_type) key is emitted exactly once, on the first
    * micro-batch it appears in, with that batch's min event time. This
    * matches the reference's on_conflict_do_nothing (arrival order
    * decides, update_donations.py:267-271), NOT min-event-time: append
    * mode cannot retract an emitted row, so if a later batch delivers an
    * earlier-timestamped event for an already-emitted key it is ignored
    * by design. first_seen equals the batch insert-ignore's min(ts)
    * exactly when arrival order is event-time-ordered (as with a
    * time-partitioned file source). State is per-key-constant, so a
    * 100 TB stream holds |keys| state, not |events|. */
  def streamingInsertIgnore(spark: SparkSession, dir: String, queryName: String = "events_dedup",
      globFilter: String = "events.parquet", maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", globFilter).parquet(dir).schema
    // event times travel as epoch MICROS longs through the stateful map
    // (java.sql.Timestamp.getTime is millis — it silently drops the
    // microsecond component and breaks parity with the batch min(ts)).
    // maxFilesPerTrigger paces the source into multiple micro-batches —
    // the path that distinguishes emit-once from emit-per-batch.
    val reader = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", globFilter)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = Tables.normalizeEventTs(reader.parquet(dir))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)]

    // flatMapGroupsWithState + Append: a key is EMITTED exactly once —
    // on its first batch — and later batches emit nothing (first-writer-
    // wins, like on_conflict_do_nothing). mapGroupsWithState in update
    // mode would re-emit the key every micro-batch the key appears in,
    // so multi-batch input (multiple files / maxFilesPerTrigger) would
    // duplicate keys in the sink.
    val deduped = stream
      .groupByKey { case (uid, etype, _) => (uid, etype) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[(Long, String, Long)],
         state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val firstTs = rows.map(_._3).min
            state.update(firstTs)
            Iterator.single((key._1, key._2, firstTs, true))
          }
      }
      .toDF("user_id", "event_type", "first_us", "newly_inserted")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("first_us")).as("first_seen"), col("newly_inserted"))

    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).orderBy(col("user_id"), col("event_type"))
  }
}
