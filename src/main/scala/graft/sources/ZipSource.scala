package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.ZipInputStream

import graft.operators.Landing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S8: zip-archive ingestion (reference update_donations.py:68-125 —
  * FEC weekly `indiv{yy}.zip` downloaded, extracted to a txt, then fed
  * to the pipe-CSV scan).
  *
  * The HTTP download itself is acquisition, out of engine scope (SURVEY
  * S8): fixtures land as files. What IS an engine concern — and what
  * the reference does single-threaded on the driver box — is turning a
  * DIRECTORY of landed zip archives into rows. Spark cannot split a
  * zip (DEFLATE has no sync points), so the unit of parallelism is the
  * archive: `binaryFile` yields one row per zip, and a `flatMap`
  * decompresses each archive inside its task. A 100 TB FEC-shaped
  * corpus is many weekly/yearly zips, so a 1000-executor cluster
  * extracts 1000 archives at once — the layout decides the parallelism,
  * exactly like the reference's one-zip-per-week layout.
  *
  * Memory: `binaryFile` materializes one COMPRESSED archive per task
  * (bounded by `spark.sql.sources.binaryFile.maxLength`, default 2 GB);
  * the decompressed stream is never materialized — entries are read
  * line-by-line through the ZipInputStream, so peak heap per task is
  * the compressed bytes + one line. Entry text is parsed downstream by
  * `from_csv` (codegen'd, PERMISSIVE), not a hand parser, so the
  * malformed-line semantics match the S1 reader
  * (on_bad_lines='warn' ⇒ nulls, ingest_bulk_donations.py:28-33).
  */
object ZipSource {

  /** Decompress every archive matched by `zipGlob` into one row per
    * text line: (zip_path, entry, value). One task per archive. */
  def readZippedLines(spark: SparkSession, zipGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(zipGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // ZipInputStream yields null-on-first-entry for GARBAGE bytes,
        // indistinguishable from a legitimately empty archive — and an
        // ingestion source that silently reads a corrupt landed file as
        // zero rows turns a transfer error into quiet data loss. The
        // local-file-header magic check fails loudly instead (empty
        // archives still carry the end-of-central-directory magic PK\5\6).
        if (bytes.length >= 2 && !(bytes(0) == 'P'.toByte && bytes(1) == 'K'.toByte))
          throw new IllegalArgumentException(
            s"$path is not a zip archive (bad magic; corrupt download?)")
        val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
        Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
          .filterNot(_.isDirectory)
          .flatMap { entry =>
            val name = entry.getName
            // the reader stops at the entry boundary: ZipInputStream
            // returns EOF at the end of the current entry until the
            // next getNextEntry call
            val lines = new BufferedReader(new InputStreamReader(zis, UTF_8))
            Iterator.continually(lines.readLine()).takeWhile(_ != null)
              .map(line => (path, name, line))
          }
      }
      .toDF("zip_path", "entry", "value")
  }

  /** Zip → typed columns: decompress (one task per archive), then parse
    * each line with `from_csv` under PERMISSIVE mode — short lines fill
    * the missing tail columns with null, matching the S1 reader. */
  def readZippedCsv(spark: SparkSession, zipGlob: String, schema: StructType,
      sep: String = "|"): DataFrame = {
    readZippedLines(spark, zipGlob)
      .select(col("zip_path"), col("entry"),
        from_csv(col("value"), schema,
          Map("sep" -> sep, "mode" -> "PERMISSIVE")).as("r"))
      .select(col("zip_path") +: col("entry") +:
        schema.fieldNames.toSeq.map(f => col(s"r.$f")): _*)
  }

  /** S8 as a DRIVER-GATED query: the zip → extract → pipe-CSV → cleanse
    * chain run END-TO-END. The reference's landed layout (one FEC
    * `indiv{yy}.zip` per period containing pipe-delimited txt entries,
    * update_donations.py:68-125) is synthesized deterministically from
    * the `orders` fixture — the SAME FEC-shaped rows the etl1 lineage
    * uses (ReferenceSources.donationPipelineOverOrders), rendered as
    * 21-field pipe lines, split across 3 archives × 2 entries — then
    * read back through the distributed [[readZippedCsv]] path and
    * pushed through the S1 donation lineage. The oracle recomputes the
    * rollup straight from the orders table, so a hash match proves the
    * zip → text → from_csv round trip loses nothing.
    *
    * Planted faults, all mirrored in SQL: bad dates (key%13), bad
    * amounts (key%11) — inherited from the etl1 synthesis — plus lines
    * TRUNCATED after the NAME field (key%17), which exercise
    * PERMISSIVE's null tail-fill and drop out via the date guard. */
  def zipIngestOverOrders(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureArchives(spark, dir)
    val contribs = readZippedCsv(spark,
        s"$root/*.zip", ReferenceSources.fecContributionsSchema)
      .drop("zip_path", "entry")
    val targets = graft.Tables.nation(spark, dir)
      .select(concat(lit("C"), col("n_nationkey").cast("string")).as("CMTE_ID"))
    ReferenceSources.donationPipeline(contribs, targets)
      .groupBy(col("committee_id"))
      .agg(
        count(lit(1)).as("n_donations"),
        countDistinct(col("donor_uid")).as("n_donors"),
        sum(col("amount")).cast("double").as("total_amount"),
        // format AFTER the min (round 17): min over the formatted STRING
        // forces every phase of this aggregate to SortAggregate (a
        // string min buffer is not hash-aggregable), dragging the
        // count/countDistinct/sum beside it through two sorts;
        // min(DATE) keeps the whole rollup a HashAggregate and
        // yyyy-MM-dd is strictly monotone in the date, so the emitted
        // value is identical
        date_format(min(col("date")), "yyyy-MM-dd").as("first_date"))
      .orderBy(col("committee_id"))
  }

  /** etl1b: the reject-accounting twin of [[zipIngestOverOrders]] — the
    * SAME zip → extract → from_csv scan, classified instead of dropped
    * (ReferenceSources.donationRejectCounts). The zip path is the one
    * lineage where every planted fault class appears, including the
    * truncated lines only PERMISSIVE tail-fill can produce. */
  def zipRejectCountsOverOrders(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureArchives(spark, dir)
    val contribs = readZippedCsv(spark,
        s"$root/*.zip", ReferenceSources.fecContributionsSchema)
      .drop("zip_path", "entry")
    val targets = graft.Tables.nation(spark, dir)
      .select(concat(lit("C"), col("n_nationkey").cast("string")).as("CMTE_ID"))
    ReferenceSources.donationRejectCounts(contribs, targets)
  }

  /** One-time synthesis of the landed-archive tree (see scaladoc above);
    * returns its root. Landed once per session and orders fingerprint:
    * the archives are a pure deterministic function of the fixture, so
    * repeat calls re-scan instead of re-zipping — the WRITE is fixture
    * construction, the distributed READ is the operator under test. */
  private def ensureArchives(spark: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s8_$tag"
    Landing.path(spark, dir, "orders.parquet", "zip-source", "archive synthesis", root) {
      val full = concat_ws("|",
        col("CMTE_ID"), col("AMNDT_IND"), lit(""), lit(""), lit(""),
        lit(""), lit(""), col("NAME"), lit(""), lit(""), col("ZIP_CODE"),
        col("EMPLOYER"), lit(""), col("TRANSACTION_DT"),
        col("TRANSACTION_AMT"), lit(""), lit(""), lit(""), lit(""),
        lit(""), col("SUB_ID"))
      val truncated = concat_ws("|",
        col("CMTE_ID"), col("AMNDT_IND"), lit(""), lit(""), lit(""),
        lit(""), lit(""), col("NAME"))
      val rows = ReferenceSources.fecShapedOrders(spark, dir)
        .select(
          (col("SUB_ID").cast("long") % 3).cast("int").as("zip_idx"),
          concat(lit("indiv_part"), col("SUB_ID").cast("long") % 2, lit(".txt")).as("entry"),
          when(col("SUB_ID").cast("long") % 17 === 0, truncated)
            .otherwise(full).as("line"))
        .collect()
      new java.io.File(root).mkdirs()
      rows.groupBy(_.getInt(0)).foreach { case (zipIdx, zipRows) =>
        val out = new java.util.zip.ZipOutputStream(
          new java.io.FileOutputStream(s"$root/indiv_$zipIdx.zip"))
        try {
          zipRows.groupBy(_.getString(1)).toSeq.sortBy(_._1).foreach {
            case (entry, entryRows) =>
              out.putNextEntry(new java.util.zip.ZipEntry(entry))
              entryRows.foreach { r =>
                out.write((r.getString(2) + "\n").getBytes(UTF_8))
              }
              out.closeEntry()
          }
        } finally out.close()
      }
    }
    root
  }
}
