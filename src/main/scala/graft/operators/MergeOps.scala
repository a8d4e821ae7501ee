package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Tables._

/** ETL write semantics on immutable storage (SURVEY §2.1 S10-S13).
  *
  * The reference's sinks are Postgres upserts; on Parquet the same
  * semantics are join-based and idempotent (I4): re-running a merge with
  * the same incoming batch yields the same table.
  *
  * Fixture realization: a per-user running aggregate "table" maintained
  * from the events stream, split at a fixed cutoff into existing
  * (before) vs incoming (after).
  *
  * Scale notes: MERGE shuffles both sides on the key once; when the
  * incoming batch is small relative to the base (the usual incremental
  * case), broadcast the incoming side and rewrite only affected
  * partitions (partition the base table by a stable key hash). The
  * insert-ignore anti join broadcasts the existing-key set when it fits.
  */
object MergeOps {

  // Disjoint snapshot/incoming windows: keys present in both → updated,
  // only after → inserted, only before → unchanged — all three MERGE
  // branches are exercised at every SF.
  val SnapshotEnd = "2024-01-03 00:00:00"
  val IncomingStart = "2024-01-25 00:00:00"

  private def perKey(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), col("event_type")).agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,2)")).as("total_value"))

  /** S10: upsert MERGE — update wins, untouched rows carry over
    * (pg_insert .. on_conflict_do_update, ingest_politicians.py:214-232).
    * Output adds merge_action for observability ('updated'/'inserted'/
    * 'unchanged'), mirroring the reference's per-run counters. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val existing = perKey(ev.filter(col("ts") < lit(SnapshotEnd).cast("timestamp")))
      .select(col("user_id").as("e_user"), col("event_type").as("e_type"),
        col("n_events").as("e_n"), col("total_value").as("e_total"))
    val incoming = perKey(ev.filter(col("ts") >= lit(IncomingStart).cast("timestamp")))
      .select(col("user_id").as("i_user"), col("event_type").as("i_type"),
        col("n_events").as("i_n"), col("total_value").as("i_total"))

    existing.join(incoming,
        col("e_user") === col("i_user") && col("e_type") === col("i_type"), "full_outer")
      .select(
        coalesce(col("i_user"), col("e_user")).as("user_id"),
        coalesce(col("i_type"), col("e_type")).as("event_type"),
        coalesce(col("i_n"), col("e_n")).as("n_events"),
        // decimal internally; double emitted (driver-render parity)
        coalesce(col("i_total"), col("e_total")).cast("double").as("total_value"),
        when(col("e_user").isNotNull && col("i_user").isNotNull, lit("updated"))
          .when(col("e_user").isNull, lit("inserted"))
          .otherwise(lit("unchanged")).as("merge_action"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** S14: column UPDATE sink — `UPDATE t SET col=… WHERE key=…`
    * (ingest_bill_summaries.py:153-171 fills missing summaries). The
    * narrow-merge form: left join incoming, coalesce ONLY the updated
    * column, every other column carried through unchanged. Updated here:
    * each user/type's total re-priced from the incoming window; rows
    * with no incoming match keep their old total and update_status
    * marks which path each row took. */
  def columnUpdate(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val base = perKey(ev.filter(col("ts") < lit(SnapshotEnd).cast("timestamp")))
    val incoming = perKey(ev.filter(col("ts") >= lit(IncomingStart).cast("timestamp")))
      .select(col("user_id"), col("event_type"), col("total_value").as("new_total"))
    base.join(incoming, Seq("user_id", "event_type"), "left")
      .select(
        col("user_id"), col("event_type"),
        col("n_events"), // untouched column carries over
        coalesce(col("new_total"), col("total_value")).cast("double").as("total_value"),
        when(col("new_total").isNotNull, lit("updated")).otherwise(lit("kept"))
          .as("update_status"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ---------------------------------------------------------------------
  // Partition-scoped MERGE: the incremental-upsert form that does NOT
  // rewrite the table (reference: update_donations.py:233-245 writes
  // 5k-row delta batches; at 100 TB a full-output rewrite per batch is
  // the difference between touching GBs and rewriting the table).
  //
  // Layout: the base table is directory-partitioned by a stable key hash
  // `part = pmod(hash(key), numParts)`. A merge then:
  //   1. computes the AFFECTED partitions from the delta's keys (bounded
  //      by numParts — partition metadata, not data);
  //   2. scans ONLY those partitions (static partition prune), joining
  //      the broadcast delta twice — an anti join keeps unmatched base
  //      rows, a semi join classifies delta keys updated-vs-inserted.
  //      No shuffle of the base side, ever;
  //   3. writes the merged affected partitions to a STAGING dir and
  //      swaps them in with per-partition directory renames — the plain-
  //      parquet analog of a metastore/Delta partition-level commit.
  //      Untouched partition directories are never opened, rewritten, or
  //      moved (PartitionedSpec asserts their files byte-identical).
  // ---------------------------------------------------------------------

  /** Stable partition assignment for a row's key columns. */
  private def partCol(keys: Seq[String], numParts: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numParts))

  /** Initial load of a hash-partitioned base table. */
  def writePartitionedBase(df: DataFrame, path: String, keys: Seq[String],
      numParts: Int): Unit =
    df.withColumn("part", partCol(keys, numParts))
      .repartition(col("part")) // one dir written by its own tasks
      .write.mode("overwrite").partitionBy("part").parquet(path)

  /** MERGE `delta` into the hash-partitioned table at `path`, rewriting
    * only partitions that contain delta keys. `delta` must carry the key
    * columns plus the same payload columns as the base (minus
    * `merge_action`/`part`, which this maintains). Matched keys take the
    * delta payload (action 'updated'); unmatched delta keys insert
    * ('inserted'); unmatched base rows carry over byte-for-byte in
    * memory and FILE-for-file on disk for untouched partitions. */
  def mergeIntoPartitioned(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], numParts: Int,
      commit: CommitProtocol = RenameCommit): Unit = {
    import CacheOps.shared
    val d = shared(delta.withColumn("part", partCol(keys, numParts)))
    try {
      // recover-on-open: finish any claimed-but-unpublished commit a
      // crashed writer left (the CommitProtocol step-3/4 window) BEFORE
      // reading table state — otherwise this writer would derive from
      // a table the log says is older than it is
      commit.recover(spark, path)
      // snapshot the commit base BEFORE the base-table read: an
      // optimistic protocol pins the version this writer derives from,
      // so a concurrent commit landing after this point is a detected
      // conflict, not a silent lost update (round-8 ADVICE)
      commit.begin(spark, path)
      // bounded driver-side collect: ≤ numParts ints of partition
      // METADATA — the isin literal list is what guarantees a static
      // partition prune in the base scan below
      val affected = d.select(col("part")).distinct()
        .collect().map(_.getInt(0)).sorted
      val base = Tables.parquet(spark, path)
        .filter(col("part").isin(affected.map(Integer.valueOf): _*))
      val deltaKeys = d.select(keys.map(col): _*)
      // survivors: base rows in affected partitions whose key is not in
      // the delta — broadcast anti join, no base shuffle
      val survivors = base.join(broadcast(deltaKeys), keys, "left_anti")
      // updated-vs-inserted: keys present in base → 'updated'. The semi
      // join's output is ≤ |delta| rows, so ITS broadcast into the
      // delta-side left join is bounded by the delta too.
      val updatedKeys = base.select(keys.map(col): _*)
        .join(broadcast(deltaKeys), keys, "left_semi")
        .withColumn("k_existed", lit(true))
      val deltaRows = d
        .join(broadcast(updatedKeys), keys, "left")
        .withColumn("merge_action",
          when(col("k_existed"), lit("updated")).otherwise(lit("inserted")))
        .drop("k_existed")
      val merged = survivors.unionByName(deltaRows.select(survivors.columns.map(col): _*))

      // stage-then-publish: write affected partitions to a staging dir,
      // then publish through the CommitProtocol seam (default: one
      // directory rename per affected partition — the plain-FS analog
      // of a partition-level metastore commit; a Delta/Iceberg protocol
      // swaps in here, see CommitProtocol's scaladoc). Writing staged
      // output (instead of dynamic-overwriting `path`) also sidesteps
      // Spark's overwrite-while-reading restriction.
      // unique per writer: concurrent committers (OptimisticLogCommit)
      // must never share a staging dir
      val staging = s"${path}__staging_${java.util.UUID.randomUUID().toString.take(8)}"
      merged.repartition(col("part"))
        .write.mode("overwrite").partitionBy("part").parquet(staging)
      // an aborted commit (write-write conflict, publish failure) drops
      // the staging dir unless a log claim still needs it for replay
      CommitProtocol.commitOrDiscard(commit, spark, staging, path,
        affected.map(p => s"part=$p").toSeq)
    } finally { d.unpersist(); () }
  }

  /** Driver-gated form (s10b): same inputs and output as [[mergeUpsert]],
    * but realized through the partition-scoped write path — initial load
    * of the snapshot window as a hash-partitioned table, partition-scoped
    * merge of the incoming window, read-back of the whole table. The
    * oracle is s10's plain full-outer formulation, so a hash match proves
    * the partition-scoped path computes the identical MERGE.
    *
    * Attribution (the j2b/s16b rule): landing the snapshot base is
    * INGESTION — in production the table pre-exists and the incremental
    * run touches only delta partitions (update_donations.py:233-245's
    * 5k-row batches). The base is therefore written once per session to
    * a pristine dir (cost on stderr) and restored per call by plain
    * file copy, because MERGE mutates in place; reps then measure what
    * the operator claims — the partition-scoped merge — not a full
    * table rebuild per rep. Fixed scratch path per source dir (same
    * serialized-driver convention as s16). */
  def partitionedMergeUpsert(spark: SparkSession, dir: String,
      numParts: Int = 16): DataFrame = {
    val keys = Seq("user_id", "event_type")
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s10b_$tag"
    val pristine = s"$root/base_pristine"
    val path = s"$root/user_totals"
    val ev = events(spark, dir)
    Landing.path(spark, dir, "events.parquet", "s10b", "base landing", root) {
      val base = perKey(ev.filter(col("ts") < lit(SnapshotEnd).cast("timestamp")))
        .withColumn("merge_action", lit("unchanged"))
      writePartitionedBase(base, pristine, keys, numParts)
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(pristine),
      fs, new org.apache.hadoop.fs.Path(path), false, hconf)
    val delta = perKey(ev.filter(col("ts") >= lit(IncomingStart).cast("timestamp")))
    mergeIntoPartitioned(spark, path, delta, keys, numParts)
    Tables.parquet(spark, path)
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("total_value").cast("double").as("total_value"), col("merge_action"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** S12: truncate-and-reload — the reference's full-refresh path
    * (replace the table wholesale). Realized as idempotent OVERWRITE:
    * the rollup is written twice on purpose — a second full refresh
    * must leave the table byte-equal, never doubled — then read back.
    * The oracle is the plain rollup, so a hash match proves the
    * truncate semantics lose and duplicate nothing. At scale overwrite
    * is a directory swap, the cheapest correct full-refresh there is;
    * anything incremental belongs to S10/S16, not this path. */
  def truncateReload(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s12_$tag/daily"
    val rollup = events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    rollup.write.mode("overwrite").parquet(path)
    rollup.write.mode("overwrite").parquet(path) // the re-load: must not double
    Tables.parquet(spark, path).orderBy(col("day"), col("event_type"))
  }

  /** S13: batch append — each ingestion batch APPENDS its partial
    * rollup; readers re-aggregate (sum of partials = exact total, the
    * map-side-combine identity). The two batches here split events on
    * the snapshot boundary, so together they cover the table exactly
    * once; the oracle is the one-shot rollup, proving append + re-agg
    * equals recompute. The landing dir is cleared per call — append
    * semantics are only meaningful against a known base. */
  def batchAppend(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s13_$tag/daily"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val ev = events(spark, dir)
    def slice(p: org.apache.spark.sql.Column) = ev.filter(p)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val boundary = lit(SnapshotEnd).cast("timestamp")
    slice(col("ts") < boundary).write.mode("append").parquet(path)
    slice(col("ts") >= boundary).write.mode("append").parquet(path)
    Tables.parquet(spark, path)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).cast("bigint").as("n"))
      .orderBy(col("day"), col("event_type"))
  }

  /** S15: vector upsert sink — the Pinecone-upsert analog
    * (hydrate_vectors.py's index.upsert): delta vectors REPLACE base
    * payloads on the key, new keys insert, and the result lands as a
    * parquet vector table and is read back. The delta is a
    * deterministic transform of a key slice (negated embeddings,
    * versioned label), so the oracle reproduces the merged table
    * exactly; the read-back emits a portable projection — a floor'd
    * left-fold element sum in ppm — because array columns can't cross
    * the driver's row-sort (and the sign flip makes payload
    * replacement visible in the hash, which a norm would not).
    * Anti-join + union is the same keyed-upsert plan as [[mergeUpsert]]
    * with the payload being the vector column. */
  def vectorUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s15_$tag/vectors"
    val e = graft.Tables.embeddings(spark, dir)
    // label is INTEGER in the fixture; string it on BOTH branches —
    // under ANSI union coercion a string/bigint union resolves to the
    // numeric side and '2_v2' would fail the implicit cast
    val base = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("label").cast("string").as("label"), col("embedding"))
    val delta = e.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"),
        concat(col("label").cast("string"), lit("_v2")).as("label"),
        transform(col("embedding"), x => -x).as("embedding"))
    base
      .join(delta.select(col("vec_id").as("d_id")),
        col("vec_id") === col("d_id"), "left_anti")
      .unionByName(delta)
      .write.mode("overwrite").parquet(path)
    Tables.parquet(spark, path)
      .select(col("vec_id"), col("label"),
        floor(lit(1000000d) * coalesce(
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")), lit(0.0))).as("sum_ppm"))
      .orderBy(col("vec_id"))
  }

  /** S11: insert-ignore — first-writer-wins; only keys absent from the
    * existing table land (on_conflict_do_nothing,
    * ingest_bulk_donations.py:112-117). Anti join against existing keys. */
  def insertIgnore(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    // Natural key is (user_id, event_type); the snapshot/incoming windows
    // are disjoint so every SF yields both ignored and inserted keys.
    val existingKeys = ev.filter(col("ts") < lit(SnapshotEnd).cast("timestamp"))
      .select(col("user_id"), col("event_type")).distinct()
    ev.filter(col("ts") >= lit(IncomingStart).cast("timestamp"))
      .join(existingKeys, Seq("user_id", "event_type"), "left_anti")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_seen"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("event_type"))
  }
}
