package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.operators.Landing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S7: paginated REST scan (reference ingest_politicians.py:54-91,
  * ingest_bills.py:59-139 — Congress.gov list endpoints with a
  * `pagination.next` cursor loop and 429 backoff).
  *
  * The cursor chain is inherently SEQUENTIAL — page N's response names
  * page N+1 — so no engine distributes a single feed's fetch loop. What
  * the engine owns is everything around it, and the 100 TB shape is:
  *  - spool-as-you-fetch: each page body lands as a file the moment it
  *    arrives, so acquisition state is the spool dir itself (a crash
  *    resumes from the last landed page, nothing is buffered in memory);
  *  - retry with exponential backoff on rate-limit errors, the
  *    reference's 429 loop, injectable for deterministic tests;
  *  - DISTRIBUTED parse: the landed pages are a plain json directory —
  *    schema'd scan + explode, one task per file batch. Many independent
  *    feeds (per-congress, per-chamber, per-endpoint) run their fetch
  *    loops concurrently, each spooling its own directory; the parse
  *    stage unions them and scales with files, not with the feed count.
  *
  * The fetcher is a seam: production implements [[PageFetcher]] over
  * HTTP; tests and the driver gate implement it over landed files
  * (fixtures land as files — SURVEY S7 scope note).
  */
object PagedSource {

  /** One REST page fetch: `cursor=None` is the first request. The body
    * is the raw JSON envelope (records + `pagination.next`). */
  trait PageFetcher {
    def fetch(cursor: Option[String]): String
  }

  /** The 429 analog: transient, retryable. */
  final class RateLimited(msg: String) extends RuntimeException(msg)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `pagination.next` from a page body; absent/null ⇒ last page. */
  def nextCursor(body: String): Option[String] =
    Option(mapper.readTree(body).path("pagination").path("next").textValue())

  /** Fetch with exponential backoff on [[RateLimited]] — backoffMs,
    * 2·backoffMs, 4·backoffMs… up to `maxRetries` retries, then the
    * failure propagates (a feed that is down must fail the run, not
    * loop forever). `sleeper` is injectable so specs assert the backoff
    * schedule without wall-clock sleeps. */
  def fetchWithRetry(fetcher: PageFetcher, cursor: Option[String],
      maxRetries: Int = 3, backoffMs: Long = 200,
      sleeper: Long => Unit = Thread.sleep): String = {
    var attempt = 0
    while (true) {
      try return fetcher.fetch(cursor)
      catch {
        case e: RateLimited =>
          if (attempt >= maxRetries) throw e
          sleeper(backoffMs << attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Drive the cursor loop to exhaustion, landing each page body as
    * `page_%05d.json` in `spoolDir` as it arrives. Returns the page
    * count. Page files already present are overwritten (re-running a
    * feed re-lands it — the downstream MERGE sinks make that
    * idempotent, reference ingest_politicians.py:214-232). */
  def fetchAllToSpool(fetcher: PageFetcher, spoolDir: String,
      maxRetries: Int = 3, backoffMs: Long = 200,
      sleeper: Long => Unit = Thread.sleep): Int = {
    Files.createDirectories(Paths.get(spoolDir))
    var cursor: Option[String] = None
    var n = 0
    var done = false
    while (!done) {
      val body = fetchWithRetry(fetcher, cursor, maxRetries, backoffMs, sleeper)
      Files.write(Paths.get(spoolDir, f"page_$n%05d.json"), body.getBytes(UTF_8))
      cursor = nextCursor(body)
      n += 1
      done = cursor.isEmpty
    }
    n
  }

  /** File-landed fetcher: pages are `<dir>/<cursor>.json`, the first
    * page is `<dir>/<firstPage>.json`. The test/driver stand-in for the
    * HTTP implementation. */
  final class LocalJsonPages(dir: String, firstPage: String = "page_0") extends PageFetcher {
    def fetch(cursor: Option[String]): String =
      new String(Files.readAllBytes(
        Paths.get(dir, cursor.getOrElse(firstPage) + ".json")), UTF_8)
  }

  /** Distributed parse of a landed spool: schema'd json scan (one task
    * per file split — no driver loop) + explode of the record array. */
  def readSpool(spark: SparkSession, spoolDir: String,
      recordSchema: StructType, recordsField: String): DataFrame = {
    val envelope = StructType(Seq(
      StructField(recordsField, ArrayType(recordSchema)),
      StructField("pagination", StructType(Seq(StructField("next", StringType))))))
    spark.read.schema(envelope).json(spoolDir)
      .select(explode(col(recordsField)).as("r"))
      .select(recordSchema.fieldNames.toSeq.map(f => col(s"r.$f")): _*)
  }

  /** Streaming flavor of the spool read: the spool is APPEND-ONLY (the
    * fetch loop lands page files and never mutates them), which is
    * exactly Structured Streaming's file-source contract — so the
    * reference's "re-run the ETL after each fetch" loop becomes a
    * continuous pipeline: the acquisition loop keeps landing pages
    * while the stream's checkpointed file index parses each page
    * EXACTLY ONCE into the parquet sink. A crash on either side
    * resumes from durable state (the spool for acquisition, the
    * checkpoint for processing); re-running after new pages land
    * processes only the new pages. */
  def streamSpoolTo(spark: SparkSession, spoolDir: String,
      recordSchema: StructType, recordsField: String,
      outDir: String, checkpointDir: String): Unit = {
    val envelope = StructType(Seq(
      StructField(recordsField, ArrayType(recordSchema)),
      StructField("pagination", StructType(Seq(StructField("next", StringType))))))
    val q = spark.readStream.schema(envelope).json(spoolDir)
      .select(explode(col(recordsField)).as("r"))
      .select(recordSchema.fieldNames.toSeq.map(f => col(s"r.$f")): _*)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  // ---------------------------------------------------------------- s7

  private val memberSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", LongType),
    StructField("c_mktsegment", StringType)))

  /** S7 as a DRIVER-GATED query: the full paginated-scan chain run
    * END-TO-END. A members feed (Congress.gov members-list shape) is
    * synthesized deterministically from the `customer` fixture as a
    * chain of 40-record page files with `pagination.next` cursors; the
    * engine then follows the cursor loop through [[fetchAllToSpool]]
    * (the REST loop with the file-landed fetcher), schema-scans the
    * spool distributed, explodes the record arrays, and rolls up per
    * nation. The oracle recomputes the rollup straight from the
    * customer table — a hash match proves the cursor chain visited
    * every page exactly once and the envelope parse lost nothing (a
    * dropped or double-fetched page shifts the counts). */
  def pagedScanOverCustomers(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s7_$tag"
    val pagesDir = s"$root/feed"
    val spoolDir = s"$root/spool"
    Landing.path(spark, dir, "customer.parquet", "paged-source", "feed synthesis + fetch", root) {
      val rows = graft.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
        .collect()
      // a re-landing (changed fixture) must not keep the previous feed's pages
      graft.Tables.rmTree(new java.io.File(root))
      Files.createDirectories(Paths.get(pagesDir))
      val pages = rows.grouped(40).toVector
      pages.zipWithIndex.foreach { case (page, i) =>
        val env = mapper.createObjectNode()
        val members = env.putArray("members")
        page.foreach { r =>
          val m = members.addObject()
          m.put("c_custkey", r.getLong(0))
          m.put("c_name", r.getString(1))
          m.put("c_nationkey", r.getLong(2))
          m.put("c_mktsegment", r.getString(3))
        }
        val pagination = env.putObject("pagination")
        if (i + 1 < pages.size) pagination.put("next", s"page_${i + 1}")
        else pagination.putNull("next")
        Files.write(Paths.get(pagesDir, s"page_$i.json"),
          mapper.writeValueAsBytes(env))
      }
      // the engine half: drive the cursor chain, landing the spool
      val n = fetchAllToSpool(new LocalJsonPages(pagesDir), spoolDir)
      require(n == pages.size, s"cursor chain fetched $n of ${pages.size} pages")
    }
    readSpool(spark, spoolDir, memberSchema, "members")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("c_custkey")).as("min_custkey"),
        max(col("c_custkey")).as("max_custkey"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .orderBy(col("c_nationkey"))
  }
}
