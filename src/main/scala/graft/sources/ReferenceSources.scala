package graft.sources

import graft.operators.Landing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the reference's raw input formats (SURVEY §2.1 S1-S6,
  * FIXTURES.md §A). The driver fixtures are Parquet, so these readers
  * are exercised by SourcesSpec against generated files; the semantics
  * (permissive bad-line handling, coercion, explode shapes) mirror the
  * reference ETL exactly.
  */
object ReferenceSources {

  /** A1/S1: FEC individual-contribution file — 21 pipe-delimited string
    * columns, no header (ingest_bulk_donations.py:28-33). All-string
    * schema: coercion happens downstream (F11/F13), like the reference's
    * dtype=str. PERMISSIVE + columnNameOfCorruptRecord mirrors
    * on_bad_lines='warn'; chunked reading (500k rows/chunk) is replaced
    * by input-split partitioning. */
  val ContribColumns: Seq[String] = Seq(
    "CMTE_ID", "AMNDT_IND", "RPT_TP", "TRANSACTION_PGI", "IMAGE_NUM",
    "TRANSACTION_TP", "ENTITY_TP", "NAME", "CITY", "STATE", "ZIP_CODE",
    "EMPLOYER", "OCCUPATION", "TRANSACTION_DT", "TRANSACTION_AMT",
    "OTHER_ID", "TRAN_ID", "FILE_NUM", "MEMO_CD", "MEMO_TEXT", "SUB_ID")

  def fecContributionsSchema: StructType =
    StructType(ContribColumns.map(StructField(_, StringType, nullable = true)))

  def readFecContributions(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "|")
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .schema(fecContributionsSchema)
      .csv(path)

  /** §3.4: the bulk-donation chunk pipeline as one composed lineage —
    * filter amended (P3) → semi-join tracked committees (P2) → donor uid
    * (U3/F6) → project+rename (P1) → coerce date/amount (F11/F13) →
    * drop nulls (P8). targetCommittees joins broadcast, replacing the
    * reference's in-memory committee dict (J6). */
  def donationPipeline(contribs: DataFrame, targetCommittees: DataFrame): DataFrame = {
    contribs
      .filter(col("AMNDT_IND") === "N")
      .join(broadcast(targetCommittees), Seq("CMTE_ID"), "left_semi")
      .withColumn("donor_uid", concat_ws("|",
        coalesce(col("NAME"), lit("")),
        coalesce(col("ZIP_CODE"), lit("")),
        coalesce(col("EMPLOYER"), lit(""))))
      .select(
        col("CMTE_ID").as("committee_id"),
        col("donor_uid"),
        col("NAME").as("name"),
        try_to_date(col("TRANSACTION_DT"), "MMddyyyy").as("date"),
        // try_cast, not cast: ANSI mode (Spark 4 default) would throw on
        // unparseable amounts, where the reference coerces them to null
        // (pandas to_numeric errors='coerce') and drops them below
        expr("try_cast(TRANSACTION_AMT AS decimal(12,2))").as("amount"),
        col("SUB_ID").as("fec_filing_id"))
      .na.drop(Seq("donor_uid", "date", "amount"))
  }

  /** §5 "ETL self-verification": per-reason reject accounting for the
    * donation lineage. The reference prints scanned/inserted/skipped
    * counters per run and skips bad rows one at a time
    * (ingest_bulk_donations.py:219-223, ingest_votes.py:173-178);
    * [[donationPipeline]] applies the same gates declaratively but
    * `na.drop`s the failures invisibly — this is the dropped side as a
    * first-class, checkable output.
    *
    * Every row is billed to the FIRST gate it fails, in pipeline order
    * (amended → off-target committee → truncated line → bad date → bad
    * amount); survivors count as `inserted` and `scanned` is the grand
    * total, so the counters reconcile exactly:
    * scanned = inserted + Σ rejects (asserted in SourcesSpec, along
    * with inserted == the pipeline's surviving row count).
    *
    * One pass over the SAME scan — the committee check is the same
    * broadcast join as the pipeline's semi join (left + null-probe
    * instead of semi, no extra shuffle), the classification is a
    * when-chain, and the rollup is a single aggregate of conditional
    * counts (map-side partials) unpivoted by a map-only `stack`. No
    * second read of the source, no driver-side counting — at 100 TB
    * the audit costs one column of branch arithmetic on top of the
    * scan the pipeline already pays for.
    *
    * `truncated_line` is distinguishable from `bad_date` because
    * PERMISSIVE tail-fill leaves the MISSING date column null, while a
    * planted bad date arrives as a non-null unparseable string. */
  def donationRejectCounts(contribs: DataFrame, targetCommittees: DataFrame): DataFrame = {
    val classified = contribs
      .join(broadcast(targetCommittees.withColumn("__is_target", lit(true))),
        Seq("CMTE_ID"), "left")
      .withColumn("reason",
        when(!(col("AMNDT_IND") <=> lit("N")), lit("amended"))
          .when(col("__is_target").isNull, lit("off_target"))
          .when(col("TRANSACTION_DT").isNull, lit("truncated_line"))
          .when(try_to_date(col("TRANSACTION_DT"), "MMddyyyy").isNull, lit("bad_date"))
          .when(expr("try_cast(TRANSACTION_AMT AS decimal(12,2))").isNull, lit("bad_amount"))
          .otherwise(lit("inserted")))
    val reasons = Seq("amended", "off_target", "truncated_line",
      "bad_date", "bad_amount", "inserted")
    val one = classified.agg(
      count(lit(1)).as("scanned"),
      reasons.map(r => sum(when(col("reason") === r, 1L).otherwise(0L)).as(r)): _*)
    one.selectExpr(
      s"stack(${reasons.size + 1}, " +
        (("'scanned', scanned" +: reasons.map(r => s"'$r', $r")).mkString(", ")) +
        ") as (reason, n)")
      .orderBy(col("reason"))
  }

  /** The FEC-shaped contribution rows synthesized deterministically
    * from the `orders` fixture — shared by the etl1 lineage query and
    * the S8 zip-ingestion round trip (ZipSource.zipIngestOverOrders),
    * and mirrored field-for-field in both queries' oracle SQL. */
  def fecShapedOrders(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir).select(
      concat(lit("C"), (col("o_custkey") % 50).cast("string")).as("CMTE_ID"),
      when(col("o_orderkey") % 7 === 0, lit("A")).otherwise(lit("N")).as("AMNDT_IND"),
      concat(lit("DONOR, "), col("o_custkey").cast("string")).as("NAME"),
      lpad((col("o_custkey") % 1000).cast("string"), 5, "0").as("ZIP_CODE"),
      col("o_orderpriority").as("EMPLOYER"),
      when(col("o_orderkey") % 13 === 0, lit("99999999"))
        .otherwise(date_format(col("o_orderdate"), "MMddyyyy")).as("TRANSACTION_DT"),
      when(col("o_orderkey") % 11 === 0, lit("n/a"))
        .otherwise(col("o_totalprice").cast("decimal(12,2)").cast("string")).as("TRANSACTION_AMT"),
      col("o_orderkey").cast("string").as("SUB_ID"))

  /** §3.4 as a DRIVER-GATED query: the composed donation lineage
    * (filter amended → semi-join tracked committees → donor uid →
    * project/rename → coerce date+amount → drop nulls) run end-to-end
    * through `donationPipeline` itself, over FEC-shaped rows synthesized
    * deterministically from the `orders` fixture (the driver's oracle
    * only sees the fixture parquet tables, so the synthesis is mirrored
    * in SQL). Bad dates (every 13th key) and unparseable amounts (every
    * 11th) are planted so the permissive-coercion path is actually
    * exercised, not just the happy path. Output is the per-committee
    * rollup — stable, small, hash-comparable. */
  def donationPipelineOverOrders(spark: SparkSession, dir: String): DataFrame = {
    val contribs = fecShapedOrders(spark, dir)
    val targets = graft.Tables.nation(spark, dir)
      .select(concat(lit("C"), col("n_nationkey").cast("string")).as("CMTE_ID"))
    donationPipeline(contribs, targets)
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

  /** A4/S4: recursive vote-file scan — data.json per roll call with a
    * votes map position → voter list (ingest_votes.py:82-147). The
    * explode of the map is the reference's only UDTF-shaped transform
    * (X8); non-object entries like "VP" parse to null voter ids and are
    * dropped (ingest_votes.py:134). */
  /** Voter entries are declared StringType, not a struct: the vote
    * arrays mix objects with scalars like "VP", and a struct-typed
    * schema nulls the ENTIRE map for such records in PERMISSIVE mode.
    * As strings, objects keep their JSON text (id extracted with
    * get_json_object) and scalars extract to null → dropped, matching
    * the reference's per-entry isinstance check (ingest_votes.py:134). */
  def voteSchema: StructType = StructType(Seq(
    StructField("category", StringType),
    StructField("date", StringType),
    StructField("bill", StructType(Seq(
      StructField("type", StringType),
      StructField("number", LongType),
      StructField("congress", LongType)))),
    StructField("votes", MapType(StringType, ArrayType(StringType)))))

  def readVoteFiles(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .schema(voteSchema)
      .json(root)
    raw
      .filter(col("category") =!= "nomination" && col("bill").isNotNull)
      .withColumn("bill_key", concat(
        upper(col("bill.type")), col("bill.number"),
        lit("-"), col("bill.congress")))
      .select(col("bill_key"), col("date"),
        explode(col("votes")).as(Seq("vote_position", "voters")))
      .select(col("bill_key"), col("date"), col("vote_position"),
        explode(col("voters")).as("voter"))
      .select(col("bill_key"), col("date"), col("vote_position"),
        get_json_object(col("voter"), "$.id").as("bioguide"))
      .filter(col("bioguide").isNotNull) // "VP"-style scalar entries
  }

  /** S4 as a DRIVER-GATED query: the recursive vote-JSON scan + map
    * explode run END-TO-END — the reference's on-disk layout (one JSON
    * document per roll call in nested directories, ingest_votes.py:82)
    * is synthesized deterministically from the `events` fixture, written
    * as REAL json files, then scanned back through [[readVoteFiles]]
    * (recursive lookup, string-typed voter entries, category filter,
    * map + array explode) and rolled up. The oracle recomputes the same
    * rollup straight from the events table, so a hash match proves the
    * JSON round-trip and double explode lose nothing.
    *
    * Synthesis (mirrored in SQL): one roll call per event day; voters of
    * position P = distinct users with an event of type P that day;
    * bill = (hr|s by day parity, number = day, congress = 118); days
    * divisible by 7 are planted as category='nomination' so the
    * reader's category filter is exercised, not just the happy path. */
  def voteScanOverEvents(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s4_$tag/votes"
    // the tree is a pure function of the fixture, landed once per
    // session: the WRITE is fixture construction, the SCAN is the
    // operator under test
    Landing.path(spark, dir, "events.parquet", "s4", "vote tree synthesis", root) {
      val votes = graft.Tables.events(spark, dir)
        .select(dayofmonth(col("ts")).as("dy"),
          date_format(col("ts"), "yyyy-MM-dd").as("date"),
          col("event_type"), col("user_id"))
        .distinct() // a voter votes once per roll call position
      val rolls = votes
        .groupBy(col("dy"), col("date"), col("event_type"))
        .agg(sort_array(collect_list(struct(col("user_id").as("id")))).as("voters"))
        .groupBy(col("dy"), col("date"))
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("voters"))))).as("votes"))
        .select(
          when(col("dy") % 7 === 0, lit("nomination")).otherwise(lit("passage")).as("category"),
          col("date"),
          struct(
            when(col("dy") % 2 === 0, lit("hr")).otherwise(lit("s")).as("type"),
            col("dy").cast("long").as("number"),
            lit(118L).as("congress")).as("bill"),
          col("votes"),
          // one nested directory per roll call — the reference's
          // <congress>/<chamber><roll>/data.json tree shape
          concat(lit("roll_"), col("dy")).as("roll_dir"))
      rolls.repartition(col("roll_dir"))
        .write.mode("overwrite").partitionBy("roll_dir").json(root)
    }
    readVoteFiles(spark, root)
      .groupBy(col("bill_key"), col("date"), col("vote_position"))
      .agg(count(lit(1)).as("n_voters"))
      .orderBy(col("bill_key"), col("date"), col("vote_position"))
  }

  /** A5/S5: bill-status XML → typed struct via Spark 4 native from_xml
    * (update_bills.py:155-256 field set). */
  def billStatusSchema: StructType = StructType(Seq(
    StructField("congress", LongType),
    StructField("type", StringType),
    StructField("number", LongType),
    StructField("title", StringType),
    StructField("introducedDate", StringType),
    StructField("sponsors", StructType(Seq(
      StructField("item", StructType(Seq(
        StructField("bioguideId", StringType))))))),
    StructField("cosponsors", StructType(Seq(
      StructField("item", ArrayType(StructType(Seq(
        StructField("bioguideId", StringType),
        StructField("sponsorshipDate", StringType),
        StructField("isOriginalCosponsor", StringType))))))))))

  def parseBillStatus(xmlCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    from_xml(xmlCol, billStatusSchema)

  def readBillStatusXml(spark: SparkSession, path: String): DataFrame = {
    spark.read.option("wholetext", "true").text(path)
      .select(parseBillStatus(col("value")).as("bill"))
      .select(
        col("bill.congress").as("congress"),
        concat(upper(col("bill.type")), col("bill.number")).as("official_bill_number"),
        col("bill.title").as("title"),
        to_date(col("bill.introducedDate")).as("date_introduced"),
        col("bill.sponsors.item.bioguideId").as("sponsor_bioguide"),
        explode_outer(col("bill.cosponsors.item")).as("cs"))
      .select(col("congress"), col("official_bill_number"), col("title"),
        col("date_introduced"), col("sponsor_bioguide"),
        col("cs.bioguideId").as("cosponsor_bioguide"),
        to_date(col("cs.sponsorshipDate")).as("sponsorship_date"),
        (lower(col("cs.isOriginalCosponsor")) === "true").as("is_original_cosponsor"))
  }

  /** S5 as a DRIVER-GATED query: the whole-file XML bill-status scan run
    * END-TO-END — one `<billStatus>` XML document per bill (the
    * reference's one-file-per-bill landing layout, update_bills.py:155)
    * synthesized deterministically from the `part` fixture, written as
    * real files, then parsed back through [[readBillStatusXml]]
    * (wholetext scan, native from_xml, nested sponsor struct, cosponsor
    * array explode_outer, boolean/date parses) and rolled up per bill.
    * The oracle recomputes the rollup straight from `part`, so a hash
    * match proves the XML round-trip, the struct/array parse shapes and
    * the outer explode lose nothing.
    *
    * Synthesis (mirrored in SQL): every 100th part key is a bill;
    * chamber by key parity; 0-2 cosponsors by key mod 3 (zero-cosponsor
    * bills exercise explode_outer's null row); the first cosponsor is
    * the original one (boolean parse F17). */
  def billXmlOverParts(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s5_$tag/bills"
    Landing.path(spark, dir, "part.parquet", "s5", "bill tree synthesis", root) {
      val k = col("p_partkey")
      val btype = when(k % 2 === 0, lit("hr")).otherwise(lit("s"))
      val number = expr("p_partkey div 100")
      val intro = date_format(
        date_add(lit("2023-01-01").cast("date"), (k % 365).cast("int")), "yyyy-MM-dd")
      def cosItem(i: Int) = concat(
        lit("<item><bioguideId>C"), ((k + i) % 700).cast("string"),
        lit("</bioguideId><sponsorshipDate>"),
        date_format(date_add(lit("2023-01-01").cast("date"),
          ((k % 365) + i).cast("int")), "yyyy-MM-dd"),
        lit("</sponsorshipDate><isOriginalCosponsor>"),
        lit(if (i == 0) "True" else "False"),
        lit("</isOriginalCosponsor></item>"))
      val cosBlock = when(k % 3 === 0, lit(""))
        .when(k % 3 === 1, concat(lit("<cosponsors>"), cosItem(0), lit("</cosponsors>")))
        .otherwise(concat(lit("<cosponsors>"), cosItem(0), cosItem(1), lit("</cosponsors>")))
      val xml = concat(
        lit("<billStatus><congress>118</congress><type>"), btype,
        lit("</type><number>"), number.cast("string"),
        lit("</number><title>"), col("p_name"),
        lit("</title><introducedDate>"), intro,
        lit("</introducedDate><sponsors><item><bioguideId>S"), (k % 500).cast("string"),
        lit("</bioguideId></item></sponsors>"), cosBlock, lit("</billStatus>"))
      graft.Tables.part(spark, dir)
        .filter(k % 100 === 0)
        .select(xml.as("value"), concat(btype, number.cast("string")).as("bill_dir"))
        .repartition(col("bill_dir")) // one file per bill directory
        .write.mode("overwrite").partitionBy("bill_dir").text(root)
    }
    readBillStatusXml(spark, root)
      .groupBy(col("official_bill_number"), col("title"),
        date_format(col("date_introduced"), "yyyy-MM-dd").as("date_introduced"),
        col("sponsor_bioguide"))
      .agg(
        count(col("cosponsor_bioguide")).as("n_cosponsors"),
        sum(when(col("is_original_cosponsor"), 1L).otherwise(0L)).as("n_original"))
      .orderBy(col("official_bill_number"))
  }

  /** A6/S6: committees list (YAML ingested as JSON — same tree) with
    * nested subcommittee explode; subcommittee id = parent + sub
    * thomas_id, and the upstream type/chamber field swap is corrected
    * here (ingest_committees.py:48-95, swap at :64-65). */
  def committeeSchema: StructType = StructType(Seq(
    StructField("thomas_id", StringType),
    StructField("name", StringType),
    StructField("type", StringType),    // source calls this 'type' but it holds the chamber
    StructField("chamber", StringType), // and this holds the committee type
    StructField("url", StringType),
    StructField("subcommittees", ArrayType(StructType(Seq(
      StructField("thomas_id", StringType),
      StructField("name", StringType),
      StructField("url", StringType)))))))

  /** S6 as a DRIVER-GATED query: the committees flatten run END-TO-END —
    * the reference's YAML tree (ingested as JSON, same structure) is
    * synthesized from the `nation` fixture, written as real JSON files,
    * read back through [[readCommittees]] (field unswap, subcommittee
    * explode, id composition) and listed. The oracle recomputes the
    * flattened listing from `nation`, so a hash match proves the nested
    * round-trip, the unswap and the parent+sub union lose nothing.
    * Synthesis: one parent committee per nation, chamber by key parity,
    * 0-2 subcommittees by key mod 3 (empty arrays exercise the
    * no-subcommittee path). */
  def committeesOverNations(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_s6_$tag/committees"
    Landing.path(spark, dir, "nation.parquet", "s6", "committee tree synthesis", root) {
      val k = col("n_nationkey")
      val subsFull = array((0 until 2).map(i => struct(
        lpad(lit(i).cast("string"), 2, "0").as("thomas_id"),
        concat(col("n_name"), lit(" Subcommittee "), lit(i.toString)).as("name"),
        concat(lit("https://example.org/sub/"), k.cast("string"), lit("/"), lit(i.toString)).as("url"))): _*)
      graft.Tables.nation(spark, dir).select(
          concat(lit("N"), k.cast("string")).as("thomas_id"),
          col("n_name").as("name"),
          // the upstream field swap readCommittees corrects: 'type'
          // carries the chamber, 'chamber' carries the committee type
          when(k % 2 === 0, lit("house")).otherwise(lit("senate")).as("type"),
          lit("standing").as("chamber"),
          concat(lit("https://example.org/c/"), k.cast("string")).as("url"),
          slice(subsFull, lit(1), (k % 3).cast("int")).as("subcommittees"))
        .coalesce(1)
        .write.mode("overwrite").json(root)
    }
    readCommittees(spark, root)
      .select(col("committee_id"), col("name"), col("chamber"),
        col("committee_type"), col("parent_committee_id"))
      .orderBy(col("committee_id"))
  }

  def readCommittees(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.schema(committeeSchema).json(path)
    val parents = raw.select(
      col("thomas_id").as("committee_id"),
      col("name"),
      col("type").as("chamber"),
      col("chamber").as("committee_type"),
      col("url"),
      lit(null).cast("string").as("parent_committee_id"))
    val subs = raw
      .select(col("thomas_id").as("parent_id"), col("type").as("parent_chamber"),
        explode(col("subcommittees")).as("sc"))
      .select(
        concat(col("parent_id"), col("sc.thomas_id")).as("committee_id"),
        col("sc.name").as("name"),
        col("parent_chamber").as("chamber"),
        lit("subcommittee").as("committee_type"),
        col("sc.url").as("url"),
        col("parent_id").as("parent_committee_id"))
    parents.unionByName(subs)
  }
}
