package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The footer seam: `Tables.parquet` builds its frame with no Spark job
  * and reads exactly the schema Spark's own inference reads, on every
  * layout the engine lands; with no visible data file it is Spark's own
  * read. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The seam's frame is built with 0 jobs (Spark's inference runs one)
    * and carries Spark's inferred schema and rows. */
  private def assertSameRead(path: String, s: SparkSession = spark): Unit = {
    val (seam, seamJobs) = jobsOf(Tables.parquet(s, path))
    val (plain, plainJobs) = jobsOf(s.read.parquet(path))
    assert(seamJobs === 0, s"Tables.parquet ran $seamJobs job(s) for $path")
    assert(plainJobs >= 1, s"Spark's own read of $path inferred without a job")
    assert(seam.schema === plain.schema, s"schema differs for $path")
    assert(seam.count() === plain.count(), s"row count differs for $path")
  }

  private def tmpDir(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(tag).toFile

  test("every fixture table: Spark's schema with no Spark job") {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      assertSameRead(s"$sfDir/$t.parquet")
    }
    val prev = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, "true")
    try assertSameRead(s"$sfDir/events.parquet")
    finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("TIMESTAMP(NANOS) follows the reading session's nanosAsLong, not the active one") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("tables_nanos")
    val file = new org.apache.hadoop.fs.Path(s"${dir.getAbsolutePath}/events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    // the active session (SQLConf.get) says no; the reading session says yes
    val prev = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, "false")
    val other = spark.newSession()
    other.conf.set(NanosAsLong, "true")
    try {
      assertSameRead(file.toString, other)
      assert(Tables.parquet(other, file.toString).schema("ts").dataType === LongType)
    } finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    rmTree(dir)
  }

  test("multi-file dir with _SUCCESS, .crc and appended files of a wider schema") {
    val dir = tmpDir("tables_multi")
    val p = s"${dir.getAbsolutePath}/t"
    spark.range(0, 40).select(col("id"), (col("id") * 2).as("x"))
      .repartition(3).write.parquet(p)
    // a later append adds a column: Spark's inference reads whichever
    // data file sorts first, and so must the seam
    spark.range(40, 60).select(col("id"), (col("id") * 2).as("x"), lit("y").as("y"))
      .repartition(2).write.mode("append").parquet(p)
    val names = dir.listFiles().head.listFiles().map(_.getName)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      s"fixture lacks sidecars: ${names.mkString(",")}")
    assertSameRead(p)
    rmTree(dir)
  }

  test("a part= dir written by MergeOps.writePartitionedBase") {
    val dir = tmpDir("tables_part")
    val p = s"${dir.getAbsolutePath}/t"
    graft.operators.MergeOps.writePartitionedBase(
      spark.range(0, 50).select(col("id").as("k"), (col("id") % 7).as("v")),
      p, Seq("k"), 4)
    assertSameRead(p)
    assert(Tables.parquet(spark, p).columns.last === "part")
    rmTree(dir)
  }

  test("an appended st8 survivor dir (with its _ledger_index sidecar)") {
    import spark.implicits._
    val dir = tmpDir("tables_st8")
    val out = s"${dir.getAbsolutePath}/survivors"
    Seq(Seq((0L, "alpha alpha", "en", "web"), (1L, "beta beta", "en", "web")),
        Seq((2L, "gamma gamma", "en", "web"), (3L, "alpha alpha", "en", "books")))
      .foreach(b => graft.streaming.DedupStream.dedupAppend(spark,
        b.toDF("doc_id", "text", "lang", "source"), out))
    assert(new java.io.File(out, graft.streaming.LedgerIndex.Dir).exists())
    assert(Tables.hasParquetData(spark, out))
    assertSameRead(out)
    assert(Tables.parquet(spark, out).count() === 3)
    rmTree(dir)
  }

  test("no visible data file: Spark's own error, and hasParquetData says not landed") {
    val dir = tmpDir("tables_empty")
    val empty = dir.getAbsolutePath
    val seam = intercept[AnalysisException](Tables.parquet(spark, empty))
    val plain = intercept[AnalysisException](spark.read.parquet(empty))
    assert(seam.getCondition === plain.getCondition)
    assert(seam.getMessage === plain.getMessage)
    assert(seam.getCondition === "UNABLE_TO_INFER_SCHEMA")
    // sidecars only: hidden names are not a landed table
    new java.io.File(dir, "_SUCCESS").createNewFile()
    new java.io.File(dir, "_ledger_index").mkdir()
    assert(!Tables.hasParquetData(spark, empty))
    assert(!Tables.hasParquetData(spark, s"$empty/missing"))
    val missing = intercept[AnalysisException](Tables.parquet(spark, s"$empty/missing"))
    assert(missing.getCondition === "PATH_NOT_FOUND")
    rmTree(dir)
  }

  test("localSession: the one session conf, and the test session is built by it") {
    // an existing session: getOrCreate hands it back, no second
    // context; that it is SparkSpec.session means the suites read
    // every key below exactly as the factory sets it
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    val s = Tables.localSession(4)
    assert(s eq SparkSpec.session)
    val conf = s.conf
    val ctx = s.sparkContext.getConf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(ctx.get("spark.master") === "local[4]")
    assert(ctx.get("spark.ui.enabled") === "false")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getAbsolutePath
    val wh = new org.apache.hadoop.fs.Path(conf.get("spark.sql.warehouse.dir")).toUri.getPath
    assert(wh.startsWith(tmp + "/") &&
      wh.endsWith(s"_${ProcessHandle.current().pid()}"), s"warehouse $wh")
    val localDir = ctx.getOption("spark.local.dir")
    assert(localDir === Tables.scratchDir)
    if (new java.io.File("/dev/shm").canWrite) assert(localDir.isDefined)
  }
}
