package graft

import org.apache.spark.sql.functions._
import graft.operators.Partitioned

/** Time-partitioned layout: correctness of the partitioned round-trip,
  * idempotence of dynamic partition overwrite, and the plan contract —
  * the incremental predicate must prune PARTITIONS (directory listing),
  * not just rows. Note Spark infers the `day=` partition value back as
  * DATE (partitionColumnTypeInference), so reads cast it for string
  * comparisons.
  */
class PartitionedSpec extends SparkSpec {

  private lazy val base: String =
    java.nio.file.Files.createTempDirectory("graft_part").toString + "/events_by_day"

  private def dayStr = date_format(col("day"), "yyyy-MM-dd")

  test("partitioned write round-trips every row and derives day from ts") {
    val ev = Tables.events(spark, sfDir)
    Partitioned.writeEventsByDay(ev, base)
    val back = spark.read.parquet(base)
    assert(back.count() === ev.count())
    val mismatched = back
      .filter(dayStr =!= date_format(col("ts"), "yyyy-MM-dd")).count()
    assert(mismatched === 0, "partition value must equal the row's event day")
  }

  test("incremental read prunes partitions, not just rows") {
    val ev = Tables.events(spark, sfDir)
    Partitioned.writeEventsByDay(ev, base)
    val days = ev.select(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .distinct().orderBy(col("d")).collect().map(_.getString(0))
    assert(days.length >= 3, "fixture should span several days")
    val since = days(days.length / 2)

    val inc = Partitioned.readEventsSince(spark, base, since)
    // value contract: identical to a row filter over the full table
    val expected = ev.filter(date_format(col("ts"), "yyyy-MM-dd") >= since).count()
    assert(inc.count() === expected)

    // plan contract: the day predicate lands in PartitionFilters
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(day"),
      s"day predicate not a partition filter:\n$plan")

    // physical contract: poison a PRUNED partition with a corrupt file.
    // A scan that still touched that directory would fail reading the
    // footer; the pruned incremental read must keep working. Schema is
    // passed explicitly because INFERENCE also reads a footer — and may
    // sample the poisoned directory regardless of any later pruning.
    val schema = spark.read.parquet(base).schema
    val dayType = schema("day").dataType
    val poison = java.nio.file.Paths.get(base, s"day=${days.head}", "junk.parquet")
    java.nio.file.Files.write(poison, "not a parquet file".getBytes)
    try {
      val pruned = spark.read.schema(schema).parquet(base)
        .filter(col("day") >= lit(since).cast(dayType))
      assert(pruned.count() === expected,
        "pruned read must never open files in skipped partitions")
      // and the poison is potent: an unpruned scan of that partition fails
      intercept[Exception] {
        spark.read.schema(schema).parquet(base)
          .filter(col("day") === lit(days.head).cast(dayType)).count()
      }
    } finally java.nio.file.Files.delete(poison)
  }

  // --- partition-scoped MERGE (S10b) -------------------------------------

  private def fileHashes(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val rootP = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(rootP).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot(_.getFileName.toString.startsWith("_")) // _SUCCESS etc.
      .map { p =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))
        rootP.relativize(p).toString -> digest.map("%02x".format(_)).mkString
      }.toMap
  }

  test("partition-scoped merge rewrites only affected partitions, byte-identically elsewhere") {
    import spark.implicits._
    import graft.operators.MergeOps
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val path = java.nio.file.Files.createTempDirectory("graft_pmerge").toString + "/t"

    val base = (1 to 40).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)

    // delta: one update (u7 exists) and one insert (u999 doesn't)
    val delta = Seq(("u7", "click", 70L, 700.0), ("u999", "click", 1L, 9.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
    val affected = delta
      .select(pmod(hash(col("user_id"), col("event_type")), lit(numParts)).as("p"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(affected.size < numParts, "delta must leave some partitions untouched")

    val before = fileHashes(path)
    MergeOps.mergeIntoPartitioned(spark, path, delta, keys, numParts)
    val after = fileHashes(path)

    // untouched partition directories: identical file names AND bytes
    def untouched(m: Map[String, String]) =
      m.filterNot { case (p, _) => affected.exists(a => p.startsWith(s"part=$a/")) }
    assert(untouched(after) === untouched(before),
      "files in untouched partitions must not be rewritten")
    // affected partitions really were rewritten
    assert(after.keySet.exists(p => affected.exists(a => p.startsWith(s"part=$a/"))))
    assert(before !== after)

    // value contract: classic full-outer MERGE result
    val back = spark.read.parquet(path)
    assert(back.count() === 41) // 40 base + 1 insert
    val u7 = back.filter(col("user_id") === "u7").collect().head
    assert(u7.getAs[Long]("n_events") === 70L &&
      u7.getAs[String]("merge_action") === "updated")
    val u999 = back.filter(col("user_id") === "u999").collect().head
    assert(u999.getAs[String]("merge_action") === "inserted")
    assert(back.filter(col("merge_action") === "unchanged").count() === 39)

    // idempotence (I4): replaying the same delta leaves the same rows —
    // the once-inserted u999 now exists, so it reclassifies as 'updated'
    MergeOps.mergeIntoPartitioned(spark, path, delta, keys, numParts)
    val replay = spark.read.parquet(path)
    assert(replay.count() === 41)
    assert(replay.filter(col("merge_action") === "updated").count() === 2)
    assert(replay.filter(col("user_id") === "u7")
      .collect().head.getAs[Long]("n_events") === 70L)
  }

  test("partition publishes flow through the CommitProtocol seam") {
    import spark.implicits._
    import graft.operators.{CommitProtocol, MergeOps, RenameCommit}
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val path = java.nio.file.Files.createTempDirectory("graft_seam").toString + "/t"
    val base = (1 to 20).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)
    val delta = Seq(("u7", "click", 70L, 700.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
    // a table-format commit would register staged files in a
    // transaction log; the recording protocol stands in for it and
    // proves the writers hand EXACTLY the affected partitions to the
    // seam, delegating the actual publish
    val published = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new CommitProtocol {
      override def commitPartitions(s: org.apache.spark.sql.SparkSession,
          staging: String, table: String, dirNames: Seq[String]): Unit = {
        published ++= dirNames
        RenameCommit.commitPartitions(s, staging, table, dirNames)
      }
    }
    MergeOps.mergeIntoPartitioned(spark, path, delta, keys, numParts, recording)
    val expected = delta
      .select(pmod(hash(col("user_id"), col("event_type")), lit(numParts)).as("p"))
      .distinct().collect().map(r => s"part=${r.getInt(0)}").toSet
    assert(published.toSet === expected,
      "exactly the affected partitions must publish through the seam")
    assert(spark.read.parquet(path).filter(col("user_id") === "u7")
      .collect().head.getAs[Long]("n_events") === 70L)

    // compaction publishes through the same seam
    published.clear()
    val frag = java.nio.file.Files.createTempDirectory("graft_seam_c").toString + "/t"
    (1 to 30).map(i => (s"2024-01-0${i % 3 + 1}", i.toLong))
      .toDF("day", "n").repartition(4)
      .write.partitionBy("day").parquet(frag)
    val compacted = Partitioned.compact(spark, frag, "day", recording)
    assert(compacted.nonEmpty)
    assert(published.toSet === compacted.map(v => s"day=$v").toSet,
      "compaction must publish exactly the fragmented partitions")
  }

  test("optimistic log commit: disjoint writers serialize; same-partition conflict aborts loudly") {
    import spark.implicits._
    import graft.operators.{MergeOps, OptimisticLogCommit}
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val path = java.nio.file.Files.createTempDirectory("graft_oplog").toString + "/t"
    val base = (1 to 40).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)

    def partOf(uid: String): Int = Seq((uid, "click")).toDF("user_id", "event_type")
      .select(pmod(hash(col("user_id"), col("event_type")), lit(numParts)).as("p"))
      .collect().head.getInt(0)
    // two users in DIFFERENT partitions, one sharing u7's partition
    val u7p = partOf("u7")
    val other = (1 to 40).map(i => s"u$i").find(u => partOf(u) != u7p).get
    val sameAsU7 = (1 to 40).map(i => s"u$i").find(u => u != "u7" && partOf(u) == u7p)

    // writer A then writer B, disjoint partitions: both commit (v1, v2)
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq(("u7", "click", 70L, 700.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit())
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq((other, "click", 500L, 5.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit())
    val log = new java.io.File(s"$path/_log").listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json")).sorted
    assert(log.toSeq === Seq("v1.json", "v2.json"), s"expected two committed versions, got ${log.toSeq}")
    val back = spark.read.parquet(path)
    assert(back.filter(col("user_id") === "u7").collect().head.getAs[Long]("n_events") === 70L)
    assert(back.filter(col("user_id") === other).collect().head.getAs[Long]("n_events") === 500L)
    assert(back.count() === 40)

    // a writer whose base predates v2's commit and touches v2's
    // partition must abort loudly (write-write conflict), and the
    // table must be left unchanged by the aborted commit
    sameAsU7.foreach { u =>
      // make the conflicting victim: commit something to u7's partition at v3
      MergeOps.mergeIntoPartitioned(spark, path,
        Seq(("u7", "click", 71L, 701.0)).toDF("user_id", "event_type", "n_events", "total_value"),
        keys, numParts, new OptimisticLogCommit())
      val before = spark.read.parquet(path).count()
      val e = intercept[IllegalArgumentException] {
        MergeOps.mergeIntoPartitioned(spark, path,
          Seq((u, "click", 999L, 9.0)).toDF("user_id", "event_type", "n_events", "total_value"),
          keys, numParts, new OptimisticLogCommit(baseVersion = 2L))
      }
      assert(e.getMessage.contains("write-write conflict"))
      assert(spark.read.parquet(path).count() === before)
      assert(spark.read.parquet(path).filter(col("user_id") === u)
        .collect().head.getAs[Long]("n_events") !== 999L)
    }
  }

  test("optimistic commit: begin() pins the snapshot base — a commit landing after the table read is a detected conflict") {
    import spark.implicits._
    import graft.operators.{MergeOps, OptimisticLogCommit}
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val path = java.nio.file.Files.createTempDirectory("graft_oplog_snap").toString + "/t"
    val base = (1 to 40).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)

    // writer A snapshots the table (begin) at tip v0, stages part=<p>
    val a = new OptimisticLogCommit()
    a.begin(spark, path)
    val delta = Seq(("u7", "click", 70L, 700.0, "updated"))
      .toDF("user_id", "event_type", "n_events", "total_value", "merge_action")
      .withColumn("part", pmod(hash(col("user_id"), col("event_type")), lit(numParts)))
    val p = delta.select(col("part")).collect().head.getInt(0)
    def stage(tag: String): String = {
      val s = s"${path}__staging_$tag"
      delta.write.mode("overwrite").partitionBy("part").parquet(s)
      s
    }
    val stagingA = stage("a")

    // concurrent writer B lands v1 on the SAME partition between A's
    // table read and A's commit — the exact lost-update window the
    // commit-time default base could not see (round-8 ADVICE, medium)
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq(("u7", "click", 71L, 710.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit())

    val e = intercept[IllegalArgumentException] {
      a.commitPartitions(spark, stagingA, path, Seq(s"part=$p"))
    }
    assert(e.getMessage.contains("write-write conflict"),
      "a commit landing inside the writer's snapshot window must be detected")
    assert(spark.read.parquet(path).filter(col("user_id") === "u7")
      .collect().head.getAs[Long]("n_events") === 71L,
      "writer B's update must survive — A must not clobber it")

    // without begin() and without an explicit baseVersion, commit must
    // refuse loudly instead of silently using a vacuous base
    val stagingC = stage("c")
    intercept[IllegalStateException] {
      new OptimisticLogCommit().commitPartitions(spark, stagingC, path, Seq(s"part=$p"))
    }
  }

  test("aborted merge cleans up its staging directory") {
    import spark.implicits._
    import graft.operators.{MergeOps, OptimisticLogCommit}
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_oplog_stage")
    val path = root.toString + "/t"
    val base = (1 to 40).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)
    // land v1 on u7's partition, then a writer with a stale explicit
    // base touching the same partition must abort AND leave no staging
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq(("u7", "click", 70L, 700.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit())
    intercept[IllegalArgumentException] {
      MergeOps.mergeIntoPartitioned(spark, path,
        Seq(("u7", "click", 999L, 9.0)).toDF("user_id", "event_type", "n_events", "total_value"),
        keys, numParts, new OptimisticLogCommit(baseVersion = 0L))
    }
    val leaked = new java.io.File(root.toString).listFiles()
      .map(_.getName).filter(_.contains("__staging_"))
    assert(leaked.isEmpty, s"aborted merge leaked staging dirs: ${leaked.toSeq}")
  }

  test("commit recovery: a crashed claim's staged partitions publish at open; superseded and re-run cases are no-ops") {
    import spark.implicits._
    import graft.operators.{MergeOps, OptimisticLogCommit}
    import org.apache.hadoop.fs.Path
    val keys = Seq("user_id", "event_type")
    val numParts = 8
    val root = java.nio.file.Files.createTempDirectory("graft_oplog_rec")
    val path = root.toString + "/t"
    val base = (1 to 40).map(i => (s"u$i", "click", i.toLong, i * 1.0))
      .toDF("user_id", "event_type", "n_events", "total_value")
      .withColumn("merge_action", lit("unchanged"))
    MergeOps.writePartitionedBase(base, path, keys, numParts)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partOf(uid: String): Int = Seq((uid, "click")).toDF("user_id", "event_type")
      .select(pmod(hash(col("user_id"), col("event_type")), lit(numParts)).as("p"))
      .collect().head.getInt(0)
    def rowsOf(p: Int) = spark.read.parquet(path)
      .filter(col("part") === p)
      .select(col("user_id"), col("n_events")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // v1: a normal commit so the log exists
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq(("u1", "click", 10L, 10.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit())

    // stage a full-partition replacement (one row) for each victim and
    // claim v2 — then CRASH between the CAS and the renames: only uB's
    // partition got published, uA's staged dir survives
    val uA = "u7"; val pA = partOf(uA)
    val uB = (1 to 40).map(i => s"u$i").find(u => partOf(u) != pA && partOf(u) != partOf("u1")).get
    val pB = partOf(uB)
    val staging = s"${path}__staging_crashed"
    Seq((uA, "click", 777L, 7.0, "updated", pA), (uB, "click", 888L, 8.0, "updated", pB))
      .toDF("user_id", "event_type", "n_events", "total_value", "merge_action", "part")
      .write.mode("overwrite").partitionBy("part").parquet(staging)
    val out = fs.create(new Path(s"$path/_log/v2.json"), false)
    out.write(OptimisticLogCommit.recordBody(staging, Seq(s"part=$pA", s"part=$pB")))
    out.close()
    fs.delete(new Path(s"$path/part=$pB"), true)
    assert(fs.rename(new Path(s"$staging/part=$pB"), new Path(s"$path/part=$pB")))

    // AGE GATE first: at the default grace the just-claimed v2 looks
    // like a LIVE writer mid-publish — recover-on-open must leave it
    // alone (stealing it would fail the live writer's own publish)
    val gated = OptimisticLogCommit.recover(spark, path)
    assert(gated.isEmpty, s"a claim inside the grace window must not replay, got $gated")
    assert(fs.exists(new Path(staging)), "a grace-gated claim's staging dir must survive")

    // recover-on-open: the next merge (disjoint partition) replays v2
    // first, then lands as v3 — the crashed commit's content now serves.
    // graceMs=0 models the real timeline (the crash is long past and no
    // writer is live); the fixture's claim is seconds old only because
    // the test fabricated it
    val uC = (1 to 40).map(i => s"u$i")
      .find(u => !Set(pA, pB, partOf("u1")).contains(partOf(u))).get
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq((uC, "click", 999L, 9.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit(recoveryGraceMs = 0L))
    assert(rowsOf(pA) === Set((uA, 777L)), "crashed claim's unpublished partition must replay at open")
    assert(rowsOf(pB) === Set((uB, 888L)), "already-published partition must survive recovery untouched")
    assert(spark.read.parquet(path).filter(col("user_id") === uC)
      .collect().head.getAs[Long]("n_events") === 999L)
    assert(!fs.exists(new Path(staging)), "recovery must drop the replayed staging dir")
    // re-recovery is a no-op
    val again = OptimisticLogCommit.recover(spark, path, graceMs = 0L)
    assert(again.isEmpty, s"second recovery must be a no-op, replayed $again")
    assert(rowsOf(pA) === Set((uA, 777L)))

    // unrecovered claim: v4 crashed pre-publish on pA. A later writer
    // on pA — even one whose base is numbered PAST the claim — must be
    // REFUSED while v4's staging survives (round-11 ADVICE: its
    // snapshot is numbered past the claim yet physically lacks the
    // claim's data; letting it land would block v4's replay forever)
    val staleStaging = s"${path}__staging_stale"
    Seq((uA, "click", 111L, 1.0, "updated", pA))
      .toDF("user_id", "event_type", "n_events", "total_value", "merge_action", "part")
      .write.mode("overwrite").partitionBy("part").parquet(staleStaging)
    val out4 = fs.create(new Path(s"$path/_log/v4.json"), false)
    out4.write(OptimisticLogCommit.recordBody(staleStaging, Seq(s"part=$pA")))
    out4.close()
    val stagingV5 = s"${path}__staging_v5"
    Seq((uA, "click", 555L, 5.0, "updated", pA))
      .toDF("user_id", "event_type", "n_events", "total_value", "merge_action", "part")
      .write.mode("overwrite").partitionBy("part").parquet(stagingV5)
    val refused = intercept[IllegalArgumentException] {
      new OptimisticLogCommit(baseVersion = 4L)
        .commitPartitions(spark, stagingV5, path, Seq(s"part=$pA"))
    }
    assert(refused.getMessage.contains("unrecovered claimed version"),
      s"same-partition write over a surviving claim must be refused, got: ${refused.getMessage}")
    // a DISJOINT write is not blocked by the pending claim
    val uD = (1 to 40).map(i => s"u$i")
      .find(u => !Set(pA, pB, partOf("u1"), partOf(uC)).contains(partOf(u))).get
    MergeOps.mergeIntoPartitioned(spark, path,
      Seq((uD, "click", 444L, 4.0)).toDF("user_id", "event_type", "n_events", "total_value"),
      keys, numParts, new OptimisticLogCommit()) // default grace: v4 stays gated, disjoint write proceeds
    assert(fs.exists(new Path(staleStaging)), "disjoint write must not disturb the gated claim")
    // SUPERSEDED claim — the state only the read-then-claim race can
    // now produce (both writers read the log before either claimed):
    // fabricate the race outcome directly. v6's record + data land
    // completed on pA while v4's staging still survives (the uD merge
    // above took v5); recovery must drop v4's stale staged copy, not
    // resurrect it over the completed later version.
    val out5 = fs.create(new Path(s"$path/_log/v6.json"), false)
    out5.write(OptimisticLogCommit.recordBody(s"${path}__staging_v6_published", Seq(s"part=$pA")))
    out5.close()
    fs.delete(new Path(s"$path/part=$pA"), true)
    assert(fs.rename(new Path(s"$stagingV5/part=$pA"), new Path(s"$path/part=$pA")))
    fs.delete(new Path(stagingV5), true)
    assert(spark.read.parquet(path).filter(col("user_id") === uA)
      .collect().head.getAs[Long]("n_events") === 555L)
    val afterStale = OptimisticLogCommit.recover(spark, path, graceMs = 0L)
    assert(afterStale.isEmpty, "a claim superseded by a later completed version must not replay")
    assert(!fs.exists(new Path(staleStaging)), "superseded staging dir must be dropped")
    assert(spark.read.parquet(path).filter(col("user_id") === uA)
      .collect().head.getAs[Long]("n_events") === 555L,
      "recovery must not clobber the later committed version")
  }

  test("post-claim re-check: a racer's claim landing between the log read and the CAS retracts OUR claim") {
    import spark.implicits._
    import graft.operators.OptimisticLogCommit
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft_oplog_race")
    val path = root.toString + "/t"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$path/_log"))
    def fabricate(v: Long, parts: Seq[String]): Unit = {
      val out = fs.create(new Path(s"$path/_log/v$v.json"), false)
      out.write(OptimisticLogCommit.recordBody(s"${path}__gone_$v", parts))
      out.close()
    }
    // log state: v1 and v3 completed on DISJOINT partitions (their
    // staging dirs long gone); v2 is a number GAP — the state a prior
    // writer's own retraction leaves behind. A racer whose stale log
    // read predates this writer's can claim INTO that gap.
    fabricate(1L, Seq("part=9"))
    fabricate(3L, Seq("part=8"))
    val staging = s"${path}__staging_ours"
    Seq(("uX", 1L, 0)).toDF("user_id", "n_events", "part")
      .write.mode("overwrite").partitionBy("part").parquet(staging)
    val c = new OptimisticLogCommit(baseVersion = 1L)
    // the racer claims v2 (intersecting part=0) AFTER our conflict
    // checks read the log but BEFORE our CAS — the exact read-then-
    // claim window; our CAS at v4 still SUCCEEDS, so only the
    // post-claim re-check can see the racer
    c.preClaimHook = () => { fabricate(2L, Seq("part=0")); c.preClaimHook = () => () }
    val ex = intercept[IllegalArgumentException] {
      c.commitPartitions(spark, staging, path, Seq("part=0"))
    }
    assert(ex.getMessage.contains("detected after claim"),
      s"expected the post-claim retraction, got: ${ex.getMessage}")
    assert(!fs.exists(new Path(s"$path/_log/v4.json")),
      "our claim must be retracted (deleted), not left as a committed lie")
    assert(fs.exists(new Path(s"$path/_log/v2.json")),
      "the racer's claim must be left intact")
    assert(!fs.exists(new Path(s"$path/part=0")),
      "nothing of ours may publish after retraction")
    assert(fs.exists(new Path(staging)),
      "the staging dir is the caller's cleanup, not the retraction's")
  }

  test("a publish rename that returns false loses no rows: the live partition is restored, a claimed commit keeps its staging for recover()") {
    import spark.implicits._
    import graft.operators.{CommitProtocol, MergeOps, OptimisticLogCommit, Partitioned, RenameCommit}
    import PartitionedSpec.NoPublishFs
    // permission bits cannot make a superuser's rename fail, so a
    // spec-only filesystem under its own scheme returns false instead
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nopublish.impl", classOf[NoPublishFs].getName)
    conf.setBoolean("fs.nopublish.impl.disable.cache", true)
    val keys = Seq("user_id", "event_type")
    val numParts = 4
    val cols = Seq("user_id", "event_type", "n_events", "total_value")
    try Seq[(String, () => CommitProtocol)](
        "rename" -> (() => RenameCommit),
        "oplog" -> (() => new OptimisticLogCommit(recoveryGraceMs = 0L))).foreach { case (name, mk) =>
      val root = java.nio.file.Files.createTempDirectory("graft_nopublish").toFile
      val path = s"nopublish://$root/t"
      NoPublishFs.failing = false
      MergeOps.writePartitionedBase((1 to 20).map(i => (s"u$i", "click", i.toLong, i * 1.0))
        .toDF(cols: _*).withColumn("merge_action", lit("unchanged")), path, keys, numParts)
      def live() = spark.read.parquet(path).select("user_id", "n_events").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      def stagingDirs() = root.listFiles().map(_.getName).filter(_.contains("staging")).toSeq
      // after a failed publish, either the rows are all still live (no
      // log: the caller dropped staging) or the claimed commit's staging
      // survives and recover() finishes it once renames work again
      def failedPublishKeepsRows(write: CommitProtocol => Unit, after: Set[(String, Long)]): Unit = {
        val before = live()
        NoPublishFs.failing = true
        val e = intercept[java.io.IOException](write(mk()))
        assert(e.getMessage.contains("staging_") && e.getMessage.contains(s"$root/t/part="),
          s"$name: the error must name the staged and the live dir: ${e.getMessage}")
        assert(live() === before, s"$name: a failed publish must leave the live rows intact")
        NoPublishFs.failing = false
        if (name == "rename") {
          assert(stagingDirs().isEmpty, s"rename: the aborted commit's staging must be dropped")
        } else {
          assert(e.isInstanceOf[CommitProtocol.UnfinishedPublish], s"oplog: $e")
          assert(stagingDirs().size === 1, s"oplog: the claimed commit's staging must survive")
          assert(OptimisticLogCommit.recover(spark, path, graceMs = 0L).nonEmpty)
          assert(live() === after, "oplog: recover() must finish the claimed commit")
          assert(stagingDirs().isEmpty)
        }
        assert(!new java.io.File(root, "t").list().exists(_.startsWith(".retired_")),
          s"$name: no retired partition copy may linger")
      }
      failedPublishKeepsRows(c => MergeOps.mergeIntoPartitioned(spark, path,
        Seq(("u7", "click", 70L, 7.0)).toDF(cols: _*), keys, numParts, c),
        live() - (("u7", 7L)) + (("u7", 70L)))
      failedPublishKeepsRows(c => Partitioned.deleteByKey(spark, path, "user_id", "part",
        Seq("u9").toDF("user_id"), c), live() - (("u9", 9L)))
      // the restored table still takes a clean write
      MergeOps.mergeIntoPartitioned(spark, path,
        Seq(("u3", "click", 30L, 3.0)).toDF(cols: _*), keys, numParts, mk())
      assert(live().contains(("u3", 30L)))
      rmTree(root)
    } finally {
      NoPublishFs.failing = false
      conf.unset("fs.nopublish.impl")
      conf.unset("fs.nopublish.impl.disable.cache")
    }
  }

  test("partitioned merge driver form matches the plain full-outer merge") {
    import graft.operators.MergeOps
    val scoped = MergeOps.partitionedMergeUpsert(spark, sfDir)
    val plain = MergeOps.mergeUpsert(spark, sfDir)
    assert(scoped.exceptAll(plain).isEmpty && plain.exceptAll(scoped).isEmpty,
      "partition-scoped MERGE must equal the full-outer formulation")
  }

  test("dynamic partition overwrite rewrites only the replayed day") {
    val ev = Tables.events(spark, sfDir)
    Partitioned.writeEventsByDay(ev, base)
    val total = spark.read.parquet(base).count()
    val replayDay = spark.read.parquet(base).select(dayStr.as("d")).distinct()
      .orderBy(col("d")).collect().map(_.getString(0)).head
    // re-load ONE day (idempotent replay): table total must not change
    val oneDay = ev.filter(date_format(col("ts"), "yyyy-MM-dd") === replayDay)
    Partitioned.writeEventsByDay(oneDay, base)
    assert(spark.read.parquet(base).count() === total,
      "replaying one day must overwrite only that partition")
  }

  test("compaction merges fragmented partitions to one file, skips compact ones untouched") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    // fragment: hash-distributed writers → several files per day dir
    ev.repartition(8).write.partitionBy("day").parquet(base)
    val before = spark.read.parquet(base)
    val rowsBefore = before.groupBy(col("day"), col("event_type")).count().collect()
      .map(r => (r.getAs[java.sql.Date](0).toString, r.getString(1), r.getLong(2))).toSet

    def files(day: String): Array[java.io.File] =
      new java.io.File(s"$base/day=$day").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val days = new java.io.File(base).listFiles().filter(_.isDirectory)
      .map(_.getName.stripPrefix("day=")).sorted
    assert(days.exists(d => files(d).length > 1), "fixture failed to fragment")

    // pre-compact one day by hand so compaction must SKIP it untouched
    val preCompacted = days.find(d => files(d).length == 1)
    val untouchedSig = preCompacted.map(d =>
      files(d).map(f => (f.getName, f.lastModified(), f.length())).toSeq)

    val compacted = graft.operators.Partitioned.compact(spark, base)
    assert(compacted.nonEmpty)
    preCompacted.foreach(d => assert(!compacted.contains(d),
      s"already-compact partition $d must be skipped"))
    days.foreach(d => assert(files(d).length === 1,
      s"partition $d still fragmented after compaction"))
    untouchedSig.zip(preCompacted).foreach { case (sig, d) =>
      assert(files(d).map(f => (f.getName, f.lastModified(), f.length())).toSeq === sig,
        s"skipped partition $d files were touched")
    }
    // content unchanged row-for-row
    val rowsAfter = spark.read.parquet(base)
      .groupBy(col("day"), col("event_type")).count().collect()
      .map(r => (r.getAs[java.sql.Date](0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rowsAfter === rowsBefore, "compaction changed table content")

    // idempotence: a second pass finds nothing fragmented and touches
    // NO file in any partition
    val allSigs = days.map(d =>
      d -> files(d).map(f => (f.getName, f.lastModified(), f.length())).toSeq).toMap
    assert(graft.operators.Partitioned.compact(spark, base).isEmpty,
      "second compaction pass must be a no-op")
    days.foreach(d =>
      assert(files(d).map(f => (f.getName, f.lastModified(), f.length())).toSeq === allSigs(d),
        s"idempotent pass touched files in partition $d"))
  }

  test("sorted layout lands pairwise-disjoint per-file key ranges (every out-of-range file skippable)") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_spec_s17/orders_by_date"
    Partitioned.sortedWrite(Tables.orders(spark, sfDir), "o_orderdate", path, nFiles = 4)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(files.length > 1, "need multiple files to demonstrate pruning")
    // footer stats per file: (min, max) of the sort column across its
    // row groups — the exact statistics a reader prunes against
    import scala.jdk.CollectionConverters._
    val ranges = files.toSeq.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = r.getFooter.getBlocks.asScala.flatMap(
          _.getColumns.asScala.filter(_.getPath.toDotString == "o_orderdate")
            .map(_.getStatistics))
        (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
          stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max)
      } finally r.close()
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) =>
        assert(curMin >= prevMax,
          s"file key ranges overlap: $ranges — range clustering broke")
      case _ =>
    }
    // a range predicate must reach the scan as a pushed filter so the
    // reader can apply those stats
    val read = spark.read.parquet(path)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"date predicate not pushed to the clustered scan:\n$p")
  }

  test("schema-evolution read NULL-fills pre-evolution batches and keeps evolved values") {
    val got = Partitioned.schemaEvolutionRollup(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sfDir)
    val nOld = o.filter(col("o_orderkey") % 2 === 0).count()
    val nNew = o.filter(col("o_orderkey") % 2 === 1).count()
    assert(got("<pre-evolution>") === nOld,
      "every pre-evolution row must surface exactly once with a NULL-filled column")
    assert(got.filterNot(_._1 == "<pre-evolution>").values.sum === nNew)
    // and the old batch physically lacks the column — evolution
    // happened at READ planning, no landed data was rewritten
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_s18_$tag/orders_evolved"
    assert(!spark.read.parquet(s"$base/b1").columns.contains("o_orderpriority"))
    assert(spark.read.parquet(s"$base/b2").columns.contains("o_orderpriority"))
  }

  test("z-order layout: both dims prunable from footers; linear sort can't prune the second dim") {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def fileRanges(path: String, column: String): Seq[(Long, Long)] = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).toSeq
        .map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val stats = r.getFooter.getBlocks.asScala.flatMap(
              _.getColumns.asScala.filter(_.getPath.toDotString == column)
                .map(_.getStatistics))
            (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max)
          } finally r.close()
        }
    }
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_spec_s20"
    val o = Tables.orders(spark, sfDir01)
    Partitioned.zorderLandOrders(spark, sfDir01, s"$root/z", nFiles = 8)
    Partitioned.sortedWrite(o, "o_orderdate", s"$root/linear", nFiles = 8)
    // the s20 customer box, in footer units (custkey is int64)
    val (cLo, cHi) = (40L, 99L)
    def hits(rs: Seq[(Long, Long)]) = rs.count { case (mn, mx) => mx >= cLo && mn <= cHi }
    val zCust = fileRanges(s"$root/z", "o_custkey")
    val linCust = fileRanges(s"$root/linear", "o_custkey")
    // z-order: a mid-range customer predicate skips files outright
    assert(hits(zCust) < zCust.length,
      s"no z-file was customer-prunable: $zCust")
    // linear date sort: every file spans the full customer range — the
    // limitation z-order exists to fix
    assert(hits(linCust) === linCust.length,
      s"date-sorted files unexpectedly customer-clustered: $linCust")
    // the date dimension stays prunable under z-order too (timestamps
    // land as int64 micros in the footer)
    val dLo = java.time.LocalDate.parse("1994-01-01").toEpochDay * 86400L * 1000000L
    val dHi = java.time.LocalDate.parse("1996-01-01").toEpochDay * 86400L * 1000000L - 1
    val zDate = fileRanges(s"$root/z", "o_orderdate")
    assert(zDate.count { case (mn, mx) => mx >= dLo && mn <= dHi } < zDate.length,
      s"no z-file was date-prunable: $zDate")
    // layout never changes results: the box rollup is equal over both
    def rollup(path: String) = spark.read.parquet(path)
      .filter(col("o_custkey") >= 40 && col("o_custkey") < 100 &&
        col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(rollup(s"$root/z") === rollup(s"$root/linear"))
  }
}

object PartitionedSpec {
  /** Local filesystem under the `nopublish` scheme. While `failing`, a
    * rename out of a writer's staging dir (`…__staging_…`,
    * `…__delete_staging_…`) returns false — Hadoop's failure signal,
    * which callers must check. Spark's own task/job commit renames and
    * the live dir's move-aside and restore still succeed. */
  class NoPublishFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("nopublish:///")
    override def getScheme: String = "nopublish"
    override def rename(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean =
      if (NoPublishFs.failing && src.getParent.getName.contains("staging")) false
      else super.rename(src, dst)
  }
  object NoPublishFs {
    @volatile var failing = false
  }
}
