package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.ReferenceSources

/** Source-semantics suite: fixtures are generated in the reference's
  * raw shapes (FIXTURES.md §A) and read through ReferenceSources —
  * asserting the ETL semantics the reference encodes (amended-filing
  * filter, donor-uid derivation, coercion drops, vote-map explode with
  * scalar skip, XML field extraction, subcommittee flattening). */
class SourcesSpec extends SparkSpec {

  private def tmp(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft_src")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("S1/§3.4: FEC csv scan + donation pipeline semantics") {
    // 21 pipe-separated fields; row semantics:
    //   r1 good (kept), r2 amended A (dropped), r3 untracked cmte
    //   (dropped), r4 bad date (coerced null → dropped), r5 good dup uid
    val rows = Seq(
      "C1|N|Q1||||IND|ALICE|SPRINGFIELD|IL|62704|ACME|ENG|01152024|250.00||T1|1||M|S1",
      "C1|A|Q1||||IND|BOB|SPRINGFIELD|IL|62704|ACME|ENG|01152024|100.00||T2|1||M|S2",
      "C9|N|Q1||||IND|CARL|SPRINGFIELD|IL|62704|ACME|ENG|01152024|100.00||T3|1||M|S3",
      "C1|N|Q1||||IND|DAVE|SPRINGFIELD|IL|62704|ACME|ENG|99152024|100.00||T4|1||M|S4",
      "C1|N|Q1||||IND|ALICE|SPRINGFIELD|IL|62704|ACME|ENG|01162024|50.00||T5|1||M|S5")
    val path = tmp("itcont.txt", rows.mkString("\n"))
    val contribs = ReferenceSources.readFecContributions(spark, path)
    assert(contribs.count() === 5)

    import spark.implicits._
    val targets = Seq("C1").toDF("CMTE_ID")
    val out = ReferenceSources.donationPipeline(contribs, targets)
    val kept = out.collect()
    assert(kept.length === 2, s"expected 2 surviving rows, got ${kept.mkString(";")}")
    assert(kept.map(_.getAs[String]("donor_uid")).toSet === Set("ALICE|62704|ACME"))
    assert(kept.map(_.getAs[java.math.BigDecimal]("amount").doubleValue()).sum === 300.0)
  }

  test("etl1b: reject counters reconcile with the pipeline exactly") {
    import spark.implicits._
    // the S1 fixture above, plus a TRUNCATED line (cut after NAME) —
    // every reason bucket except bad_amount is exercised, and the
    // counters must reconcile: scanned = inserted + Σ rejects, and
    // inserted equals the pipeline's surviving row count
    val rows = Seq(
      "C1|N|Q1||||IND|ALICE|SPRINGFIELD|IL|62704|ACME|ENG|01152024|250.00||T1|1||M|S1",
      "C1|A|Q1||||IND|BOB|SPRINGFIELD|IL|62704|ACME|ENG|01152024|100.00||T2|1||M|S2",
      "C9|N|Q1||||IND|CARL|SPRINGFIELD|IL|62704|ACME|ENG|01152024|100.00||T3|1||M|S3",
      "C1|N|Q1||||IND|DAVE|SPRINGFIELD|IL|62704|ACME|ENG|99152024|100.00||T4|1||M|S4",
      "C1|N|Q1||||IND|EVE|SPRINGFIELD|IL|62704|ACME|ENG|01152024|n/a||T5|1||M|S5",
      "C1|N|Q1||||IND|FRED")
    val path = tmp("itcont.txt", rows.mkString("\n"))
    val contribs = ReferenceSources.readFecContributions(spark, path)
    val targets = Seq("C1").toDF("CMTE_ID")
    val counts = ReferenceSources.donationRejectCounts(contribs, targets)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      "scanned" -> 6L, "inserted" -> 1L, "amended" -> 1L, "off_target" -> 1L,
      "truncated_line" -> 1L, "bad_date" -> 1L, "bad_amount" -> 1L))
    val survivors = ReferenceSources.donationPipeline(contribs, targets).count()
    assert(counts("inserted") === survivors)
    assert(counts("scanned") ===
      counts.filterNot(_._1 == "scanned").values.sum)
  }

  test("S4: recursive vote json scan explodes the position map, skips scalars") {
    val d = Files.createTempDirectory("graft_votes")
    Files.createDirectories(Paths.get(s"$d/2024/h1"))
    Files.createDirectories(Paths.get(s"$d/2024/h2"))
    Files.writeString(Paths.get(s"$d/2024/h1/data.json"),
      """{"category":"passage","date":"2024-01-10",
        |"bill":{"type":"hr","number":1,"congress":119},
        |"votes":{"Yea":[{"id":"B001"},{"id":"B002"},"VP"],"Nay":[{"id":"B003"}]}}"""
        .stripMargin.replace("\n", ""))
    Files.writeString(Paths.get(s"$d/2024/h2/data.json"),
      """{"category":"nomination","date":"2024-01-11",
        |"votes":{"Yea":[{"id":"B009"}]}}""".stripMargin.replace("\n", ""))
    val out = ReferenceSources.readVoteFiles(spark, d.toString)
    val rows = out.collect()
    // nomination file skipped; "VP" scalar skipped; 3 voter rows remain
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("bill_key")).toSet === Set("HR1-119"))
    assert(rows.map(_.getAs[String]("bioguide")).toSet === Set("B001", "B002", "B003"))
    val positions = rows.groupBy(_.getAs[String]("vote_position")).view.mapValues(_.length).toMap
    assert(positions === Map("Yea" -> 2, "Nay" -> 1))
  }

  test("S5: bill-status XML parses fields, sponsor, cosponsors") {
    val xml =
      """<billStatus><congress>119</congress><type>hr</type><number>42</number>
        |<title>A Test Act</title><introducedDate>2024-02-01</introducedDate>
        |<sponsors><item><bioguideId>S100</bioguideId></item></sponsors>
        |<cosponsors>
        |  <item><bioguideId>C200</bioguideId><sponsorshipDate>2024-02-02</sponsorshipDate><isOriginalCosponsor>true</isOriginalCosponsor></item>
        |  <item><bioguideId>C201</bioguideId><sponsorshipDate>2024-02-05</sponsorshipDate><isOriginalCosponsor>false</isOriginalCosponsor></item>
        |</cosponsors></billStatus>""".stripMargin
    val path = tmp("fdsys_billstatus.xml", xml)
    val out = ReferenceSources.readBillStatusXml(spark, path).collect()
    assert(out.length === 2)
    val r = out.head
    assert(r.getAs[Long]("congress") === 119L)
    assert(r.getAs[String]("official_bill_number") === "HR42")
    assert(r.getAs[String]("sponsor_bioguide") === "S100")
    assert(out.map(_.getAs[String]("cosponsor_bioguide")).toSet === Set("C200", "C201"))
    assert(out.count(_.getAs[Boolean]("is_original_cosponsor")) === 1)
  }

  test("S6: committees flatten with subcommittee ids and field unswap") {
    val json =
      """{"thomas_id":"HSAG","name":"Agriculture","type":"house","chamber":"standing",
        |"url":"http://x","subcommittees":[
        |{"thomas_id":"01","name":"Livestock","url":"http://y"},
        |{"thomas_id":"02","name":"Forestry","url":"http://z"}]}"""
        .stripMargin.replace("\n", "")
    val path = tmp("committees.json", json)
    val out = ReferenceSources.readCommittees(spark, path).collect()
    assert(out.length === 3)
    val byId = out.map(r => r.getAs[String]("committee_id") -> r).toMap
    assert(byId.keySet === Set("HSAG", "HSAG01", "HSAG02"))
    assert(byId("HSAG").getAs[String]("chamber") === "house")       // unswapped
    assert(byId("HSAG").getAs[String]("committee_type") === "standing")
    assert(byId("HSAG01").getAs[String]("parent_committee_id") === "HSAG")
    assert(byId("HSAG01").getAs[String]("chamber") === "house")
  }

  test("S6/J9: committee→parent SELF-join resolves over one relation") {
    // the committees table is self-referencing (models.py:126-131);
    // navigate child → parent and count subcommittees per parent
    // (metrics.py:553-556) via a true same-relation alias self-join
    val line1 =
      """{"thomas_id":"HSAG","name":"Agriculture","type":"house","chamber":"standing",
        |"url":"http://x","subcommittees":[
        |{"thomas_id":"01","name":"Livestock","url":"http://y"},
        |{"thomas_id":"02","name":"Forestry","url":"http://z"}]}"""
        .stripMargin.replace("\n", "")
    val line2 =
      """{"thomas_id":"SSFR","name":"Foreign Relations","type":"senate","chamber":"standing",
        |"url":"http://w","subcommittees":[
        |{"thomas_id":"09","name":"Africa","url":"http://v"}]}"""
        .stripMargin.replace("\n", "")
    val path = tmp("committees_tree.json", line1 + "\n" + line2)
    val committees = ReferenceSources.readCommittees(spark, path)
    val c = committees.as("c")
    val p = committees.as("p")
    val rolled = c.join(p, col("c.parent_committee_id") === col("p.committee_id"))
      .groupBy(col("p.committee_id"), col("p.name"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_subcommittees"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rolled === Map("HSAG" -> 2L, "SSFR" -> 1L))
  }

  test("S7: cursor loop lands every page once; retry backs off exponentially") {
    import graft.sources.PagedSource
    val d = Files.createTempDirectory("graft_pages")
    def page(name: String, ids: Seq[Int], next: Option[String]): Unit =
      Files.writeString(d.resolve(s"$name.json"),
        s"""{"members":[${ids.map(i => s"""{"c_custkey":$i}""").mkString(",")}],
           |"pagination":{"next":${next.map("\"" + _ + "\"").getOrElse("null")}}}"""
          .stripMargin.replace("\n", ""))
    page("page_0", Seq(1, 2), Some("page_1"))
    page("page_1", Seq(3), Some("page_2"))
    page("page_2", Seq(4, 5), None)

    // a fetcher that rate-limits the first TWO attempts at page_1
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val inner = new PagedSource.LocalJsonPages(d.toString)
    val flaky = new PagedSource.PageFetcher {
      def fetch(cursor: Option[String]): String = {
        if (cursor.contains("page_1") && failures.getAndDecrement() > 0)
          throw new PagedSource.RateLimited("429")
        inner.fetch(cursor)
      }
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val spool = Files.createTempDirectory("graft_spool").toString
    val n = PagedSource.fetchAllToSpool(flaky, spool,
      maxRetries = 3, backoffMs = 100, sleeper = sleeps += _)
    assert(n === 3)
    assert(sleeps.toSeq === Seq(100L, 200L)) // exponential, not constant
    // the spool holds each page exactly once, ids complete
    val ids = spark.read.json(spool)
      .select(explode(col("members.c_custkey")).as("id"))
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L, 5L))

    // a feed that stays down propagates after maxRetries
    val alwaysDown = new PagedSource.PageFetcher {
      def fetch(cursor: Option[String]): String =
        throw new PagedSource.RateLimited("429")
    }
    intercept[PagedSource.RateLimited] {
      PagedSource.fetchAllToSpool(alwaysDown,
        Files.createTempDirectory("graft_spool2").toString,
        maxRetries = 2, backoffMs = 1, sleeper = _ => ())
    }
  }

  test("S7: a malformed page body fails the fetch loop loudly") {
    import graft.sources.PagedSource
    // a feed returning truncated/garbage JSON must abort the loop (the
    // page is landed for post-mortem, but the cursor chain cannot
    // continue past an unreadable envelope)
    val broken = new PagedSource.PageFetcher {
      def fetch(cursor: Option[String]): String = """{"members":[{"id":1}],"pagina"""
    }
    intercept[com.fasterxml.jackson.core.JacksonException] {
      PagedSource.fetchAllToSpool(broken,
        Files.createTempDirectory("graft_spool_bad").toString)
    }
  }

  test("S7 streaming: spool pages are parsed exactly once across restarts") {
    import graft.sources.PagedSource
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft_spoolstream")
    val spool = s"$root/spool"
    Files.createDirectories(Paths.get(spool))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    def land(page: Int, ids: Seq[Int]): Unit =
      Files.writeString(Paths.get(spool, f"page_$page%05d.json"),
        s"""{"members":[${ids.map(i => s"""{"id":$i,"name":"m$i"}""").mkString(",")}],
           |"pagination":{"next":null}}""".stripMargin.replace("\n", ""))

    land(0, Seq(1, 2)); land(1, Seq(3))
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    PagedSource.streamSpoolTo(spark, spool, schema, "members", out, ckpt)
    assert(spark.read.parquet(out).count() === 3)

    // more pages land; a RESTARTED stream processes only the new file —
    // ids 1-3 are not duplicated in the sink (checkpointed file index)
    land(2, Seq(4, 5))
    PagedSource.streamSpoolTo(spark, spool, schema, "members", out, ckpt)
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("S8: zip scan extracts every entry of every archive, one task per zip") {
    import graft.sources.ZipSource
    val d = Files.createTempDirectory("graft_zip")
    def writeZip(name: String, entries: Seq[(String, Seq[String])]): Unit = {
      val out = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(d.resolve(name).toFile))
      try entries.foreach { case (entry, lines) =>
        out.putNextEntry(new java.util.zip.ZipEntry(entry))
        out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
        out.closeEntry()
      } finally out.close()
    }
    writeZip("a.zip", Seq(
      "p0.txt" -> Seq("C1|N|x", "C2|A|y"),
      "p1.txt" -> Seq("C3|N|z"),
      "empty.txt" -> Seq()))
    writeZip("b.zip", Seq("p0.txt" -> Seq("C4|N|w")))

    val lines = ZipSource.readZippedLines(spark, s"$d/*.zip")
    assert(lines.count() === 4)
    // entries stay attributed to their archive and entry name
    val byEntry = lines.collect()
      .groupBy(r => (r.getString(0).split('/').last, r.getString(1)))
      .view.mapValues(_.length).toMap
    assert(byEntry === Map(
      ("a.zip", "p0.txt") -> 2, ("a.zip", "p1.txt") -> 1, ("b.zip", "p0.txt") -> 1))
  }

  test("S8: a corrupt archive fails loudly; a valid empty archive reads as zero rows") {
    import graft.sources.ZipSource
    val d = Files.createTempDirectory("graft_zipbad")
    // garbage bytes where a zip should be — a truncated/corrupt download
    Files.write(d.resolve("bad.zip"), Array[Byte](0x42, 0x41, 0x44, 0x21))
    val e = intercept[org.apache.spark.SparkException] {
      ZipSource.readZippedLines(spark, s"$d/*.zip").count()
    }
    assert(e.getMessage.contains("not a zip archive")
      || String.valueOf(e.getCause).contains("not a zip archive"))

    val d2 = Files.createTempDirectory("graft_zipempty")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(d2.resolve("empty.zip").toFile))
    out.close() // valid archive, zero entries — legitimately empty
    assert(ZipSource.readZippedLines(spark, s"$d2/*.zip").count() === 0)
  }

  test("S8: zipped csv parses PERMISSIVEly — short lines null-fill the tail") {
    import graft.sources.ZipSource
    val d = Files.createTempDirectory("graft_zip2")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(d.resolve("x.zip").toFile))
    out.putNextEntry(new java.util.zip.ZipEntry("t.txt"))
    // row 1 full arity; row 2 truncated after NAME (field 8 of 21)
    out.write(
      ("C1|N|Q1||||IND|ALICE|SPRINGFIELD|IL|62704|ACME|ENG|01152024|250.00||T1|1||M|S1\n"
        + "C2|N|Q1||||IND|BOB\n").getBytes("UTF-8"))
    out.closeEntry(); out.close()

    val rows = ZipSource.readZippedCsv(spark, s"$d/*.zip",
      ReferenceSources.fecContributionsSchema).collect()
    assert(rows.length === 2)
    val byCmte = rows.map(r => r.getAs[String]("CMTE_ID") -> r).toMap
    assert(byCmte("C1").getAs[String]("TRANSACTION_AMT") === "250.00")
    assert(byCmte("C2").getAs[String]("NAME") === "BOB")
    assert(byCmte("C2").getAs[String]("TRANSACTION_DT") === null)
    assert(byCmte("C2").getAs[String]("SUB_ID") === null)
  }

  test("S8: an archive synthesis that fails part-way re-synthesizes on the next call") {
    // a fresh copy of the fixture, so its archive tree is new to this JVM
    val dir = Files.createTempDirectory("graft_s8_fault").resolve("sf").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sfDir), new java.io.File(dir))
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_s8_" + dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val s8 = SparkEntry.queries("s8_zip_ingest")
    try {
      // a directory where the last archive goes: the synthesis writes
      // the first archives, then fails
      val plant = new java.io.File(root, "indiv_2.zip")
      assert(plant.mkdirs())
      intercept[java.io.IOException](s8(spark, dir).collect())
      assert(root.list().count(n => n.endsWith(".zip") && n != "indiv_2.zip") > 0)
      rmTree(plant)
      val rows = s8(spark, dir).collect().toSeq
      assert(rows.nonEmpty)
      assert(rows === s8(spark, sfDir).collect().toSeq)
      assert(new java.io.File(root, "indiv_2.zip").isFile)
    } finally rmTree(root)
  }
}
