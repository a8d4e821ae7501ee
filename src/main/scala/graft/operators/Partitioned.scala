package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-partitioned table layout — the storage half of the 100 TB
  * incremental story.
  *
  * The reference's incremental updates re-scan whole tables and filter
  * by timestamp (update_donations.py:57-65). At 100 TB that filter must
  * become a PARTITION prune, not a row filter: a fact table written as
  * `.partitionBy(day)` turns `WHERE day >= frontier` into "list only
  * the matching directories" — an incremental run touches only new
  * partitions regardless of total table size. Row-group min/max stats
  * (Incremental.watermarkFilter's path) help within a file; directory
  * partitioning makes the unit of skipping a whole day of data.
  *
  * PartitionedSpec asserts the plan-level contract: the day predicate
  * lands in the scan's `PartitionFilters` (directories skipped at file
  * listing) rather than `PushedFilters` (rows skipped inside files).
  */
object Partitioned {

  /** Partition-scoped DELETE by key — the right-to-be-forgotten
    * primitive shared by the landed indexes (v9e deletes vec_ids from
    * IVF cells; t11e deletes doc_ids from posting buckets). A columnar
    * (key, partition) probe names the affected partition directories
    * (bounded driver list, ≤ partition count); ONLY those are scanned,
    * rewritten without the doomed keys, staged, then swapped through
    * the [[CommitProtocol]] seam — untouched partitions are never
    * opened. A partition whose every row is doomed gets an EMPTY
    * staged directory, so the publish swaps its live contents away
    * INSIDE the commit seam (a post-commit delete would leave a crash
    * window where the log says committed but the doomed rows still
    * serve). Returns the affected partition values as strings.
    * `schema`: pass the table's contract schema when the directory can
    * legitimately hold zero data files (schema inference over an empty
    * dir throws — the bm25 postings lesson). */
  def deleteByKey(spark: SparkSession, tablePath: String, keyCol: String,
      partCol: String, doomed: DataFrame,
      commit: CommitProtocol = RenameCommit,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Seq[String] =
    deleteByKeys(spark, tablePath, Seq(keyCol), partCol, doomed, commit, schema)

  /** Multi-column-key form of [[deleteByKey]] — the doomed frame names
    * COMPOSITE keys (e.g. the bm25 compaction reclaim deletes
    * `(doc_id, gen)` pairs so a re-added doc's LIVE generation rows
    * survive the purge of its dead ones). Same partition-scoped
    * contract: only partitions holding a doomed key rewrite. */
  def deleteByKeys(spark: SparkSession, tablePath: String, keyCols: Seq[String],
      partCol: String, doomed: DataFrame,
      commit: CommitProtocol = RenameCommit,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Seq[String] = {
    commit.begin(spark, tablePath)
    val reader = schema.fold(spark.read)(spark.read.schema)
    val table = reader.parquet(tablePath)
    // no broadcast hint on the doomed set: a takedown backlog can be
    // corpus-proportional (round-9 ADVICE) — AQE picks broadcast when
    // the set is actually small, and a shuffled semi/anti join stays
    // bounded by the affected partitions' bytes otherwise
    val affected = table.join(doomed, keyCols, "left_semi")
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (affected.nonEmpty) {
      val keyType = table.schema(partCol).dataType
      val pred = affected.map(v => col(partCol) === lit(v).cast(keyType)).reduce(_ || _)
      // unique per writer: concurrent committers (OptimisticLogCommit)
      // must never share a staging dir (the mergeIntoPartitioned rule)
      val staging =
        s"${tablePath}__delete_staging_${java.util.UUID.randomUUID().toString.take(8)}"
      val fs = new org.apache.hadoop.fs.Path(tablePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a failed STAGING write published nothing — clean up and rethrow
      // (the same no-leak rule the commit path enforces below)
      try table.filter(pred)
        .join(doomed, keyCols, "left_anti")
        .repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(staging)
      catch { case e: Throwable =>
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
        throw e
      }
      // REPLACE-with-empty, staged: a fully-doomed partition has no
      // rows in the staged write, so stage an empty dir for it — the
      // publish rename then replaces the live dir with emptiness
      affected.foreach { v =>
        val p = new org.apache.hadoop.fs.Path(staging, s"$partCol=$v")
        if (!fs.exists(p)) { fs.mkdirs(p); () }
      }
      // an aborted commit must not leak the staged copy (the
      // mergeIntoPartitioned discipline)
      CommitProtocol.commitOrDiscard(commit, spark, staging, tablePath,
        affected.map(v => s"$partCol=$v"))
    }
    affected
  }

  /** Write `events` partitioned by event day. Partition column derives
    * from `ts` in-plan; dynamic overwrite replaces only the partitions
    * present in this batch — the idempotent incremental append
    * (re-running a day's load rewrites THAT day, not the table). */
  def writeEventsByDay(events: DataFrame, path: String): Unit = {
    // scope the dynamic-overwrite mode to THIS write: the conf is
    // session-global, and leaving it flipped would silently change the
    // semantics of every later overwrite-partitionBy write in the
    // session (truncate-table → replace-matching-partitions)
    val conf = events.sparkSession.conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = conf.getOption(key)
    conf.set(key, "dynamic")
    try {
      events
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("day")) // one output dir written by its own tasks, no tiny files
        .write
        .mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    } finally prev.fold(conf.unset(key))(conf.set(key, _))
  }

  /** Incremental read: only partitions at/after `sinceDay` are listed.
    * The literal is cast to the PARTITION COLUMN's type (Spark infers
    * `day=` values back as DATE): comparing in the column's own type
    * keeps the predicate a partition filter, whereas a type mismatch
    * casts the COLUMN and silently demotes pruning to a row filter —
    * the difference between listing 7 directories and scanning 100 TB.
    * PartitionedSpec proves the prune physically (poisoned partition). */
  def readEventsSince(spark: SparkSession, path: String, sinceDay: String): DataFrame = {
    val t = Tables.parquet(spark, path)
    t.filter(col("day") >= lit(sinceDay).cast(t.schema("day").dataType))
  }

  /** The I2 watermark aggregation over the pruned incremental slice —
    * same result as Incremental.watermarkFilter's trailing window when
    * the frontier is a day boundary, but the scan reads only the
    * trailing partitions instead of the whole table. Day is emitted as
    * an ISO string (driver comparator rule: no DATE-typed outputs). */
  def incrementalDailyCounts(spark: SparkSession, path: String, sinceDay: String): DataFrame =
    readEventsSince(spark, path, sinceDay)
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"), col("event_type"))

  /** The ONE data-file predicate (excludes `_SUCCESS`/`.crc`-style
    * markers) — shared by compact's fragmentation test and the bm25
    * index's fold guards, so a widened marker convention can't split
    * the two listings. The directory must exist (compact's paths come
    * from a listing; callers with maybe-absent dirs guard themselves —
    * an exists() here would cost one metadata round-trip per partition
    * on an object store). */
  private[operators] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Small-file compaction — the maintenance pass every partitioned
    * sink needs at 100 TB: streaming micro-batches (EventsStream), the
    * spool-as-you-fetch landings (PagedSource), and per-batch
    * incremental appends each add files, and read cost degrades with
    * file count (one task minimum per file, listing overhead, tiny row
    * groups). Each multi-file partition's rows are rewritten as ONE
    * file into a staging dir and committed by directory rename —
    * readers never observe a half-compacted partition, and partitions
    * already compact are SKIPPED (their files are not opened, moved,
    * or rewritten — the same untouched-partition guarantee the
    * partition-scoped MERGE makes, PartitionedSpec asserts both).
    * Returns the compacted partition values.
    *
    * The affected-partition read filters with literals cast to the
    * partition column's type (see readEventsSince) so the scan lists
    * only fragmented directories. */
  def compact(spark: SparkSession, path: String,
      partitionKey: String = "day",
      commit: CommitProtocol = RenameCommit): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(hconf)
    // snapshot the commit base before this writer reads the table (the
    // mergeIntoPartitioned discipline — see CommitProtocol.begin)
    commit.begin(spark, path)
    val fragmented = fs.listStatus(base)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionKey="))
      .filter(s => dataFiles(fs, s.getPath).length > 1)
      .map(_.getPath.getName.stripPrefix(s"$partitionKey="))
      .sorted.toSeq
    if (fragmented.nonEmpty) {
      val t = Tables.parquet(spark, path)
      val keyType = t.schema(partitionKey).dataType
      // literal-typed OR chain keeps this a partition filter: only the
      // fragmented directories are listed and read
      val affected = fragmented
        .map(v => col(partitionKey) === lit(v).cast(keyType))
        .reduce(_ || _)
      val staging = s"${path}__compact_staging"
      t.filter(affected)
        .repartition(col(partitionKey)) // one task-set per partition → one file
        .write.mode("overwrite").partitionBy(partitionKey).parquet(staging)
      // publish through the CommitProtocol seam (default: per-partition
      // rename; a table-format protocol swaps in here)
      commit.commitPartitions(spark, staging, path,
        fragmented.map(v => s"$partitionKey=$v"))
    }
    fragmented
  }

  /** Driver-gated compaction round trip (s16b): land the fixture's
    * events FRAGMENTED (hash-distributed writers → many files per day
    * directory, the shape a streaming sink leaves), compact every
    * fragmented day to one file, then run the same pruned incremental
    * rollup as s16 against the compacted table. The s16 oracle proves
    * compaction loses and duplicates nothing. */
  def compactedIncrementalCounts(spark: SparkSession, dir: String,
      sinceDay: String = "2024-01-15"): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s16b_$tag/events_fragmented"
    // the fragmented table is fixture construction, landed once per
    // session: repeat calls exercise compaction's steady state (an
    // all-compact table is a listing-only no-op), the honest per-run
    // cost of a maintenance pass (j2b's bucketed-ingestion lesson)
    Landing.path(spark, dir, "events.parquet", "compact", "fragmented landing", path) {
      graft.Tables.events(spark, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(16) // deliberately NOT by day: every writer hits every day
        .write.mode("overwrite").partitionBy("day").parquet(path)
    }
    val compacted = compact(spark, path)
    if (compacted.nonEmpty)
      System.err.println(s"[compact] ${compacted.size} partitions compacted under $path")
    incrementalDailyCounts(spark, path, sinceDay)
  }

  /** Driver-gated end-to-end form (s16): write the fixture's events
    * time-partitioned into a scratch dir, then run the pruned
    * incremental rollup from a fixed mid-month frontier. The oracle
    * computes the same rollup from the raw table — equality proves the
    * partitioned round-trip loses nothing and the prune keeps every
    * in-range row. */
  def partitionedIncrementalCounts(spark: SparkSession, dir: String,
      sinceDay: String = "2024-01-15"): DataFrame = {
    // FIXED scratch path per source dir, overwritten on every call:
    // a fresh temp dir per call would leave a full copy of events
    // behind each bench rep and grow without bound
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s16_$tag/events_by_day"
    writeEventsByDay(graft.Tables.events(spark, dir), path)
    incrementalDailyCounts(spark, path, sinceDay)
  }

  /** S17: SORTED (range-clustered) layout — clustering WITHIN files,
    * the complement of [[writeEventsByDay]]'s directory partitioning.
    * `repartitionByRange` gives every output file a DISJOINT slice of
    * the sort key (range exchange on sampled split points), and the
    * within-partition sort tightens every parquet row group's min/max
    * around a narrow interval — so a range predicate skips whole files
    * and row groups from footer stats alone. At 100 TB this layout
    * decision is the difference between "scan the table" and "read the
    * 1% of files whose stats bracket the predicate": directory
    * partitioning skips coarse units (days), range clustering makes
    * the remaining files individually skippable.
    *
    * PartitionedSpec proves the layout physically: after the write,
    * the per-file footer min/max ranges of the sort column are
    * pairwise disjoint (every out-of-range file is skippable), and the
    * read plan carries the predicate in PushedFilters. */
  def sortedWrite(df: DataFrame, sortCol: String, path: String, nFiles: Int = 8): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(path)

  /** Driver-gated end-to-end form (s17): land `orders` range-clustered
    * by order date, then run a quarter's rollup through the clustered
    * table. The oracle computes the same rollup from the raw table —
    * equality proves the clustered round-trip loses nothing and the
    * footer-pruned read keeps every in-range row. */
  def sortedLayoutRollup(spark: SparkSession, dir: String,
      from: String = "1995-01-01", to: String = "1995-04-01"): DataFrame = {
    // fixed scratch path per source dir, overwritten per call — see
    // partitionedIncrementalCounts
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_s17_$tag/orders_by_date"
    sortedWrite(graft.Tables.orders(spark, dir), "o_orderdate", path)
    Tables.parquet(spark, path)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** S18: schema-evolution read — the day-2 reality of any landed
    * corpus: batches written before a column existed must stay
    * readable next to batches written after. Batch 1 lands with the
    * original schema, batch 2 adds a column; `mergeSchema` unions the
    * footers' schemas at planning and NULL-fills the missing column in
    * old files — no rewrite of landed data, the cardinal rule at
    * 100 TB. (Merging N footers at planning is why production table
    * formats record ONE schema in table metadata — the CommitProtocol
    * seam's Delta/Iceberg swap-in; mergeSchema is the plain-parquet
    * analog.) The oracle reconstructs the same frame from the raw
    * table with a CASE — equality proves old rows surface with NULLs
    * and new rows keep their values, exactly. */
  def schemaEvolutionRollup(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_s18_$tag/orders_evolved"
    val o = graft.Tables.orders(spark, dir)
    val v1Cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(v1Cols.map(col): _*)
      .write.mode("overwrite").parquet(s"$base/b1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select((v1Cols :+ "o_orderpriority").map(col): _*)
      .write.mode("overwrite").parquet(s"$base/b2")
    spark.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("priority"))
  }

  /** S20: Z-ORDER (Morton-curve) layout — multi-dimensional range
    * clustering, the industry answer (Delta/Iceberg Z-ORDER BY) to the
    * s17 limitation that a linear sort clusters ONE dimension: under
    * `sortedWrite(date)` every file spans the full customer range, so
    * a customer predicate prunes nothing. Interleaving the bits of two
    * bucketized dimensions puts rows close in z-value when they are
    * close in BOTH dimensions, so every file's footer min/max is
    * narrow on each dimension and a reader prunes box queries on
    * either or both.
    *
    * The interleave is pure integer shift/mask arithmetic (codegen'd
    * columns; disjoint bits make OR = ADD). Buckets must be
    * order-preserving — divide, never modulo — and saturate at the
    * top bucket (`least`), so a key past the stats snapshot degrades
    * pruning on the last bucket only, never correctness. The bucket
    * divisors are DERIVED from the table's own max stats at write
    * time (one bounded two-scalar aggregate — the c2/c7 derived-knob
    * rule): both dimensions must fill their bit budget, because a
    * dimension bucketized into a fraction of the range contributes
    * only low-order z-bits and the curve degenerates to a linear sort
    * on the other dimension (measured: custkey divisor sized for 10×
    * this corpus left every file spanning the full custkey range).
    *
    * PartitionedSpec proves the layout physically with footer stats:
    * a mid-range customer predicate skips files under z-order while
    * the date-sorted layout can skip NONE (every file spans the full
    * customer range), date stays prunable too, and the box-query
    * result is byte-equal across layouts. */
  def zValue(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }

  /** Land `df` clustered along the z-curve of two bucket columns. */
  def zorderWrite(df: DataFrame, bucketA: Column, bucketB: Column,
      path: String, nFiles: Int = 8, bits: Int = 8): Unit =
    df.withColumn("_z", zValue(bucketA, bucketB, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Land `orders` z-ordered by (customer, order date), with both
    * dimensions bucketized into a full 8 bits via divisors derived
    * from the table's max stats. Shared by the s20 query and the
    * footer-stat spec. */
  def zorderLandOrders(spark: SparkSession, dir: String, path: String,
      nFiles: Int = 8): Unit = {
    val o = graft.Tables.orders(spark, dir)
    val days = datediff(col("o_orderdate"), lit("1992-01-01"))
    val row = o.agg(max(col("o_custkey")), max(days)).head
    def div(mx: Long) = math.max(1L, (mx + 255) / 256)
    val cDiv = if (row.isNullAt(0)) 1L else div(row.getLong(0))
    val dDiv = if (row.isNullAt(1)) 1L else div(row.getInt(1).toLong)
    zorderWrite(o,
      least(floor(col("o_custkey") / cDiv), lit(255L)).cast("long"),
      least(floor(days / dDiv), lit(255L)).cast("long"),
      path, nFiles)
  }

  /** Driver-gated end-to-end form (s20): land `orders` z-ordered by
    * (customer bucket, date bucket), then run a two-dimensional box
    * rollup through the clustered table. The oracle computes the same
    * rollup from the raw table — equality proves the z-clustered
    * round-trip loses nothing; the pruning claims are PartitionedSpec's
    * footer-stat proofs (layout never changes results, only bytes
    * read). */
  def zorderLayoutRollup(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = s"${graft.Tables.scratchDir.getOrElse(System.getProperty("java.io.tmpdir"))}/graft_s20_$tag/orders_zorder"
    zorderLandOrders(spark, dir, path)
    Tables.parquet(spark, path)
      .filter(col("o_custkey") >= 40 && col("o_custkey") < 100 &&
        col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }
}
