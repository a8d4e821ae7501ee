package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location (SURVEY §4: the counterpart of the
  * reference's secondary indexes for lookup joins).
  *
  * At 100 TB the dominant cost of lineitem⋈orders-shaped joins is
  * shuffling both fact tables on the join key. Writing both sides
  * bucketed by that key (same bucket count) lets Spark plan a
  * SortMergeJoin with NO Exchange on either side — the join runs
  * bucket-to-bucket. This is the storage-layout decision a 100 TB
  * deployment makes once at ingestion time; BucketingSpec asserts the
  * exchange-free plan.
  */
object Bucketing {

  /** Write df as a bucketed managed table (Parquet). Drops any existing
    * table AND its leftover warehouse directory first: with a scratch
    * warehouse that outlives the (in-memory) catalog, a fresh session
    * has no entry for the table while its directory still exists, and
    * saveAsTable refuses the location (LOCATION_ALREADY_EXISTS) even in
    * overwrite mode. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Co-located equi-join of two same-bucketed tables. */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** One-time-per-session ingestion memo: bucketing is a LAYOUT decision
    * made once at ingestion time, so re-running a query over bucketed
    * tables must not re-pay the write. Keyed by (warehouse, dir, buckets)
    * — a new session (new pid-namespaced warehouse) re-ingests, repeated
    * calls within a session (bench reps, repeated pipelines) reuse the
    * tables. The write cost is reported on stderr so benchmark
    * attribution stays honest: the cold pass carries ingestion, warm
    * reps measure the join the layout exists to serve. */
  // warehouse dir -> "sourceDir|buckets" currently materialized in the
  // fixed-name tables (the table names are global per warehouse, so a
  // CHANGE of source dir must re-ingest, not reuse). Not a Landing: it
  // records what the fixed-name tables hold, which a per-key source
  // fingerprint cannot express
  private val ingested = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def ensureBucketedFacts(spark: SparkSession, dir: String, buckets: Int): Unit = {
    import org.apache.spark.sql.functions._
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    ingested.compute(wh, (_, cur) => {
      val key = s"$dir|$buckets"
      if (cur != key) {
        val t0 = System.nanoTime()
        writeBucketed(graft.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
          "graft_orders_bucketed", "o_orderkey", buckets)
        writeBucketed(graft.Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice")),
          "graft_lineitem_bucketed", "l_orderkey", buckets)
        System.err.println(f"[bucketing] one-time bucketed ingestion ($dir): ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      key
    })
    ()
  }

  /** Driver-gated form (j2b): lineitem⋈orders revenue per priority run
    * over BUCKETED tables — both fact sides written bucketed on the
    * join key (the once-at-ingestion layout decision, memoized per
    * session via [[ensureBucketedFacts]]), then joined bucket-to-bucket
    * with no Exchange on either side (plan asserted in BucketingSpec).
    * The oracle computes the same rollup from the raw tables, so a hash
    * match proves the bucketed round-trip is lossless. */
  def bucketedPriorityRevenue(spark: SparkSession, dir: String,
      buckets: Int = 8): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    ensureBucketedFacts(spark, dir, buckets)
    colocatedJoin(spark, "graft_lineitem_bucketed", "graft_orders_bucketed",
      "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }
}
