package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X7: the LLM extraction/synthesis tier (reference app.py:374-398
  * keyword extraction, app.py:401-519 answer synthesis over retrieved
  * rows) — with the MODEL behind a deterministic stub seam, the same
  * treatment X5 gives the embedding service (StubEmbed): the Spark-side
  * plumbing (batched calls, partition-level client init, plan shape,
  * schemas) is real and driver-gated; swapping in a live model changes
  * only the [[CompletionModel]] implementation.
  *
  * Two execution paths, asserted equivalent:
  *  - [[extractKeywords]]: the extraction expressed as a PURE COLUMN
  *    PLAN (explode → count → windowed top-k → ordered re-aggregate) —
  *    whole-stage-codegen'd, no UDF, the form a deterministic "model"
  *    permits and the form to prefer whenever extraction rules are
  *    expressible;
  *  - [[extractKeywordsBatched]]: the mapPartitions form that a REAL
  *    model client forces — one client per partition (amortized init,
  *    like a rate-limited HTTP session), prompts pulled through in
  *    batches of `batchSize` (the reference batches its calls too).
  *    This is the seam production swaps: `StubKeywordModel` →
  *    an HTTP-backed CompletionModel, plan unchanged.
  *
  * At 100 TB the column plan is one shuffle (doc_id, token) with
  * map-side partial counts; the batched form is map-only. Neither
  * collects to the driver.
  */
object LlmOps {

  /** Words ignored by the extraction "model" — must stay in lockstep
    * with the IN-list in the x7 oracle SQL (SparkEntry). */
  val Stopwords: Seq[String] = Seq(
    "that", "with", "this", "from", "have", "were", "they", "their")

  val MinTokenLen = 4

  /** The model seam: a batch of prompts in, a completion per prompt
    * out. Production backs this with an HTTP client; the stub is a
    * deterministic extraction so the pipeline is testable offline and
    * oracle-checkable. */
  trait CompletionModel extends Serializable {
    def completeBatch(prompts: Seq[String]): Seq[String]
  }

  /** Deterministic "LLM": extracts the top-k alphabetic tokens of
    * length ≥ [[MinTokenLen]] (stopwords dropped) by descending
    * frequency, ties broken lexicographically — the rule mirrored by
    * the column plan and the DuckDB oracle. */
  final class StubKeywordModel(k: Int) extends CompletionModel {
    def completeBatch(prompts: Seq[String]): Seq[String] = prompts.map { p =>
      p.toLowerCase.split("[^a-z]+")
        .filter(t => t.length >= MinTokenLen && !Stopwords.contains(t))
        .groupBy(identity).view.mapValues(_.length).toSeq
        .sortBy { case (tok, n) => (-n, tok) }
        .take(k).map(_._1).mkString(",")
    }
  }

  /** Structured-output model: the keyword stub wrapped in the JSON
    * envelope a production extraction prompt demands — WITH the
    * failure modes a real model exhibits, made deterministic so the
    * whole validation tier is oracle-checkable. Keyed off md5 of the
    * prompt (the only thing a model sees): first hex nibble '0' →
    * TRUNCATED output (the context-length / stop-token failure —
    * invalid JSON), '1' → SCHEMA DRIFT (valid JSON, wrong field name —
    * the "the model renamed my key" failure), else well-formed. ~1/8
    * of outputs are bad, the realistic regime where silent dropping
    * would poison a corpus. */
  final class StubJsonModel(k: Int) extends CompletionModel {
    private val inner = new StubKeywordModel(k)
    def completeBatch(prompts: Seq[String]): Seq[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      inner.completeBatch(prompts).zip(prompts).map { case (kw, p) =>
        val h1 = md.digest(p.getBytes("UTF-8")).head
        // first hex char: high nibble of byte 0
        ((h1 >> 4) & 0xf) match {
          case 0 => s"""{"keywords": "$kw""" // truncated: unterminated
          case 1 => s"""{"topics": "$kw"}""" // drift: field renamed
          case _ => s"""{"keywords": "$kw"}"""
        }
      }
    }
  }

  private def documents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)

  /** x7d: extraction with OUTPUT VALIDATION and quarantine — the
    * etl1b reject discipline applied to the model seam. Model output
    * is untrusted input: every completion is parsed against the
    * expected schema, failures are classified (malformed JSON vs
    * schema drift) and QUARANTINED with a reason rather than dropped,
    * and the rollup reconciles exactly — every document is valid or
    * quarantined, id-sums pinning membership of each class. The valid
    * class additionally carries a content hash-sum of the extracted
    * keywords, so the gate proves the surviving extractions equal the
    * x7 rule, not merely that counts add up.
    *
    * Scale shape: the model pass is x7b's batched mapPartitions;
    * validation is from_json + two null checks in the same scan; the
    * rollup is one partial-agged groupBy over 3 status values. Nothing
    * about failure handling adds an exchange. */
  def extractWithQuarantine(spark: SparkSession, dir: String, k: Int = 5,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val in = documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val raw = in.mapPartitions { rows =>
      val model = new StubJsonModel(k)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map(_._1).zip(model.completeBatch(batch.map(_._2)))
      }
    }.toDF("doc_id", "raw")
    // from_json never yields a null struct for bad input — it fills
    // the fields with nulls — so malformed JSON is detected via the
    // PERMISSIVE corrupt-record column, distinguishing "unparseable"
    // from "parsed but the field is missing"
    val schema = StructType(Seq(
      StructField("keywords", StringType), StructField("_corrupt", StringType)))
    val parsed = raw.withColumn("p",
      from_json(col("raw"), schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
    parsed
      .select(col("doc_id"),
        when(col("p._corrupt").isNotNull, "malformed_json")
          .when(col("p.keywords").isNull, "missing_field")
          .otherwise("valid").as("status"),
        coalesce(col("p.keywords"), lit("")).as("keywords"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(when(col("status") === "valid",
          conv(substring(md5(col("keywords")), 1, 8), 16, 10).cast("bigint"))
          .otherwise(0L)).as("kw_hash_sum"))
      .orderBy(col("status"))
  }

  /** X7 as a column plan: per-document top-k keyword extraction.
    * Output: (doc_id, keywords) with keywords comma-joined in rank
    * order — totally ordered, no arrays (driver-gate rules). */
  def extractKeywords(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("token"))
      .filter(length(col("token")) >= MinTokenLen &&
        !col("token").isin(Stopwords: _*))
    val counted = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = counted.withColumn("rk",
      row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("token"))))
      .filter(col("rk") <= k)
    ranked.groupBy(col("doc_id"))
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(col("rk"), col("token")))),
          x => x.getField("token"))).as("keywords"))
      .orderBy(col("doc_id"))
  }

  /** X7 through the model seam: same output as [[extractKeywords]],
    * produced by batched calls to a per-partition [[CompletionModel]]
    * client. Driver-gated against the SAME oracle as x7 — the two
    * paths must agree bit-for-bit. */
  def extractKeywordsBatched(spark: SparkSession, dir: String, k: Int = 5,
      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    val in = documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val out = in.mapPartitions { rows =>
      // per-partition client init — a real model opens its session here
      val model = new StubKeywordModel(k)
      rows.grouped(batchSize).flatMap { batch =>
        val completions = model.completeBatch(batch.map(_._2))
        batch.map(_._1).zip(completions)
      }
    }
    out.toDF("doc_id", "keywords")
      .filter(col("keywords") =!= "") // docs with no qualifying token
      .orderBy(col("doc_id"))
  }

  /** Streaming flavor of the batched extraction: documents arrive as a
    * file stream (the corpus-ingestion shape — landed batches of docs,
    * e.g. the S7 spool or a crawler's output dir) and each micro-batch
    * flows through the SAME per-partition batched model client,
    * appending (doc_id, keywords) to a parquet sink. Stateless per
    * document, so at 100 TB the stream holds no state at all — the
    * checkpointed file index is the only bookkeeping, and a restart
    * extracts only newly landed files (the exactly-once-per-doc
    * property LlmOpsSpec asserts across a restart). */
  def extractKeywordsStreamingTo(spark: SparkSession, srcDir: String,
      outDir: String, checkpointDir: String, k: Int = 5,
      batchSize: Int = 64): Unit = {
    import spark.implicits._
    val schema = Tables.parquet(spark, srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val extracted = stream.mapPartitions { rows =>
      val model = new StubKeywordModel(k)
      rows.grouped(batchSize).flatMap { batch =>
        val completions = model.completeBatch(batch.map(_._2))
        batch.map(_._1).zip(completions)
      }
    }.toDF("doc_id", "keywords")
      .filter(col("keywords") =!= "")
    val q = extracted.writeStream
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** X7 synthesis shape (app.py:401-519): answer a query over the
    * top-k retrieved documents — retrieval is the v4 semantic-search
    * plan (stub embedder, broadcast 1-row query), synthesis is a
    * deterministic per-row "grounded answer" assembled from the
    * retrieved row and its extracted keywords. Oracle-checked since
    * round 6: retrieval mirrors StubEmbed's md5-window derivation and
    * synthesis reuses the x7 keyword rule, so the composed RAG answer
    * is hash-proven end to end. */
  def ragAnswer(spark: SparkSession, dir: String,
      query: String = Similarity.DefaultQuery, k: Int = 5): DataFrame = {
    val hits = Similarity.semanticSearch(spark, dir, query, k)
    val kw = extractKeywords(spark, dir)
    hits.join(kw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sim_r"),
        concat(lit("q["), lit(query), lit("] -> doc "), col("doc_id"),
          lit(" ("), coalesce(col("keywords"), lit("")), lit(")")).as("answer"))
      .orderBy(desc("sim_r"), col("doc_id"))
  }
}
