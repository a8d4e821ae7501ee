package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Loaders for the driver's star-schema fixtures (TESTDATA.md), and the
  * footer seam every Parquet read in the engine goes through.
  *
  * All tables are Parquet with schemas baked into the files. A read
  * takes its data schema from ONE file footer opened on the driver
  * ([[parquet]]) and table statistics from the footers too
  * ([[parquetRowCount]]), so neither costs a Spark job; scans, column
  * pruning and predicate pushdown stay with the Parquet data source.
  * At cluster scale these reads parallelize per row-group, no
  * per-table tuning is needed here; queries control partitioning.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `paths` read as Parquet, with the data schema taken from one
    * footer on the driver instead of Spark's schema-inference job (a
    * one-task job per read only to open that footer). The footer is
    * the one Spark's own inference would open without mergeSchema
    * (`ParquetUtils.inferSchema`): a root-level `_common_metadata`,
    * else `_metadata`, else the first visible data file in path order;
    * it is converted with Spark's converter under this session's conf
    * (`GraftShims.parquetFooterSchema`). Partition columns stay with
    * Spark's partition discovery. With no visible data file the read
    * is Spark's own, so the caller gets Spark's error (or an empty
    * frame from a summary file) unchanged. Paths are literal, not
    * globs. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    schemaFileOf(conf, paths) match {
      case Some(st) =>
        val footer = new Footer(st.getPath, footerOf(st, conf))
        spark.read.schema(GraftShims.parquetFooterSchema(spark, footer))
          .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Whether `path` holds a visible Parquet data file, i.e. whether
    * [[parquet]] reads a footer there: the one rule for "has this table
    * landed". A dir holding only sidecars (`_ledger_index`, `_SUCCESS`,
    * `.crc`) has not. Driver-side listing only, no Spark read. */
  def hasParquetData(spark: SparkSession, path: String): Boolean =
    schemaFileOf(spark.sessionState.newHadoopConf(), Seq(path)).isDefined

  /** The file [[parquet]] reads its schema from, or None when `paths`
    * hold no visible data file. */
  private def schemaFileOf(conf: Configuration, paths: Seq[String]): Option[FileStatus] = {
    // per root: its summary files and its first data file (a file
    // root is its own data file, whatever its name)
    val perRoot = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      try {
        val st = fs.getFileStatus(path)
        if (st.isFile) (Nil, Some(st))
        else {
          val kids = fs.listStatus(path).toSeq
          (kids.filter(k => k.isFile && isSummary(k.getPath.getName)),
            firstDataFile(fs, kids))
        }
      } catch { case _: java.io.FileNotFoundException => (Nil, None) }
    }
    perRoot.flatMap(_._2).minByOption(_.getPath.toString).map { data =>
      val summaries = perRoot.flatMap(_._1).sortBy(_.getPath.toString)
      def summary(name: String) = summaries.find(_.getPath.getName == name)
      summary("_common_metadata").orElse(summary("_metadata")).getOrElse(data)
    }
  }

  private def isSummary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  /** The first visible data file among `kids` and below, in full-path
    * order, the order Spark's inference sorts leaf files in: siblings
    * sort by name, a dir as `name/`, and the walk stops at the first
    * data file found. */
  private def firstDataFile(fs: FileSystem, kids: Seq[FileStatus]): Option[FileStatus] =
    kids.filterNot(st => GraftShims.isHiddenPath(st.getPath.getName))
      .sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
      .iterator.flatMap { st =>
        if (st.isDirectory) firstDataFile(fs, fs.listStatus(st.getPath).toSeq)
        else if (isSummary(st.getPath.getName)) None
        else Some(st)
      }.nextOption()

  /** One file's Parquet footer, read on the driver. */
  private def footerOf(st: FileStatus, conf: Configuration): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), readOptions(conf))
    try r.getFooter finally r.close()
  }

  /** Read options over `conf`. `ParquetFileReader.open(file)` without
    * them builds its defaults from a fresh Hadoop Configuration, which
    * re-parses the XML default resources on every open;
    * `tools/check_all.sh` fails on that form. */
  def readOptions(conf: Configuration): ParquetReadOptions =
    HadoopReadOptions.builder(conf).build()

  /** Preferred shuffle/spill scratch directory: tmpfs when available.
    * Spark's local dirs belong on the fastest local storage (on real
    * clusters, node-local SSDs); on this box the root virtio disk adds
    * multi-second, high-variance stalls to shuffle-heavy queries
    * (measured 0.8 s vs 11 s on the same query), while /dev/shm is RAM.
    * The workloads here shuffle a few hundred MB at most. */
  def scratchDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-spark-scratch") else None
  }

  /** Local task slots for every main: `SPARK_GRAFT_CPUS`, default 4. */
  def graftCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The one local session every main and the test suites run on:
    * `local[cpus]` with as many shuffle partitions, the UTC session time
    * zone, no UI, WARN logging, shuffle scratch on [[scratchDir]], and a
    * SQL warehouse under java.io.tmpdir — the bucketed-table operators
    * save managed tables, which must never land in the default
    * ./spark-warehouse under the repo.
    *
    * The warehouse is namespaced PER PROCESS (pid suffix): the bucketed
    * operators use fixed table names, so two concurrent graft JVMs
    * (e.g. Bench and Verify) sharing one warehouse could drop/delete a
    * table the other is mid-read on. Disk stays bounded by GC'ing
    * warehouses whose owning pid is no longer alive (overwrite mode
    * bounds growth within a live process). */
  def localSession(cpus: Int): SparkSession = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      val stale =
        n == "graft_warehouse" || // pre-namespacing layout
          (n.startsWith("graft_warehouse_") &&
            !n.stripPrefix("graft_warehouse_").toLongOption
              .exists(pid => ProcessHandle.of(pid).isPresent))
      if (stale) rmTree(f)
    }
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // STATIC conf, default 100: a 200+-query suite interleaving per
      // pass evicts every generated class between its own passes, so
      // codegen-heavy queries (j7's similarity chains) pay Janino
      // recompilation on EVERY rep — warm medians then measure the
      // compiler, not the query. Production long-lived sessions size
      // this to their plan count for the same reason.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"$tmp/graft_warehouse_${ProcessHandle.current().pid()}")
    val spark = scratchDir.fold(b)(d => b.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Recursive delete of a file or directory tree (deleteOnExit only
    * removes empty dirs). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Table row count from parquet FOOTER metadata — the local analog of
    * metastore ANALYZE stats (Delta/Iceberg/Hive all serve COUNT(*)
    * from table metadata). A handful of footer reads on the driver, no
    * Spark job: the count-derived tuning scalars (the dedup df caps)
    * cost a full count() job per query otherwise (~0.3 s of scheduler
    * latency each, measured round 7). Memoized on the exact file set
    * (path:length:mtime), so a rewritten table re-reads its footers.
    * At 100 TB the footer sweep is why a metastore holds these stats;
    * this helper IS that seam — swap its body for a stats lookup. Not a
    * Landing: the key is the exact file set, not a per-session source. */
  private val rowCountMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def parquetRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files = (if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(root))).sortBy(_.getPath.toString)
    val key = files.map(st =>
      s"${st.getPath}:${st.getLen}:${st.getModificationTime}").mkString("|")
    rowCountMemo.computeIfAbsent(key, _ =>
      files.map(st => footerOf(st, conf).getBlocks.stream()
        .mapToLong(_.getRowCount).sum()).sum)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as BOTH Parquet TIMESTAMP(NANOS) (older
    * testdata) and timestamp[us] (current testdata), so the read path
    * detects the physical type instead of assuming one. With
    * nanosAsLong=true a NANOS column surfaces as LongType — truncate it
    * to microseconds with integer division (`ts div 1000`, NOT `/1000`:
    * double division loses precision on 1.7e18-scale nanos), matching
    * DuckDB's ns→us truncation. A native timestamp column passes
    * through untouched. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** Normalize a raw events `ts` column to TIMESTAMP. The testdata has
    * shipped `ts` in two physical encodings, so every reader (batch AND
    * streaming — this works on unanalyzed streaming frames too) detects
    * rather than assumes:
    *  - Parquet TIMESTAMP(NANOS), surfaced as a nanos LONG under the
    *    nanosAsLong conf → truncate to micros with integer division
    *    (`ts div 1000`, NOT `/1000`: double division loses precision on
    *    1.7e18-scale nanos), matching DuckDB's ns→us truncation.
    *  - timestamp[us] without UTC adjustment, surfaced as TIMESTAMP_NTZ
    *    → cast to TIMESTAMP. Under the UTC session tz every entry point
    *    pins, the cast is value-preserving and matches DuckDB's naive
    *    read. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
