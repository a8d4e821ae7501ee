package graft

import org.apache.spark.sql.functions._
import graft.streaming.DedupStream

/** The stream-built survivor table must equal the batch dedup's
  * min-doc_id winners (arrival order = doc_id order in every fixture
  * here), and the survivor table itself — not streaming state — must
  * be the replay authority: redelivery and killed appends publish
  * nothing / complete without duplicating. The sf0.01 gate corpus has
  * ZERO exact duplicates (the oracle proves pass-through there), so
  * the dup-dropping paths are pinned HERE on planted corpora. */
class DedupStreamSpec extends SparkSpec {

  private def survivors(p: String) =
    spark.read.parquet(p).select(col("doc_id"), col("digest")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  /** Two pinned-order files → two micro-batches (oldest mtime first). */
  private def landTwoFiles(dir: String,
      batch0: org.apache.spark.sql.DataFrame,
      batch1: org.apache.spark.sql.DataFrame): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val base = System.currentTimeMillis() - 120000L
    Seq((batch0, "batch-0.parquet", base), (batch1, "batch-1.parquet", base + 60000L))
      .foreach { case (df, name, mtime) =>
        val tmp = dir + "_tmp_" + name
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val target = new java.io.File(dir, name)
        java.nio.file.Files.move(part.toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        target.setLastModified(mtime)
        rmTree(new java.io.File(tmp))
      }
  }

  test("st8: cross-batch and within-batch duplicates drop; survivors equal the batch winners") {
    import spark.implicits._
    // doc 2 duplicates doc 0 ACROSS batches; docs 4/5 duplicate each
    // other WITHIN a batch; doc 3 is unique
    val b0 = Seq((0L, "alpha alpha", "en", "web"), (1L, "beta beta", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq((2L, "alpha alpha", "en", "books"), (3L, "gamma gamma", "en", "web"),
        (4L, "delta delta", "fr", "web"), (5L, "delta delta", "fr", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_stream_spec").toFile
    val incoming = tmp.getAbsolutePath + "/incoming"
    val out = tmp.getAbsolutePath + "/survivors"
    landTwoFiles(incoming, b0, b1)
    val q = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp1")
    try q.processAllAvailable() finally q.stop()
    val got = survivors(out)
    val want = b0.unionByName(b1).withColumn("digest", md5(col("text")))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("digest")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === want, "streamed survivors diverged from batch winners")
    assert(got.map(_._1) === Seq(0L, 1L, 3L, 4L),
      "cross-batch dup (2) and within-batch dup (5) must both drop")
    // the arrival winner keeps ITS row, not the duplicate's: doc 0's
    // source survives, doc 2's does not
    val srcOf0 = spark.read.parquet(out).filter(col("doc_id") === 0L)
      .select(col("source")).collect().map(_.getString(0)).toSeq
    assert(srcOf0 === Seq("web"))

    // FULL redelivery under a fresh checkpoint: every digest is
    // already in the survivor table — the ledger anti-join publishes
    // NOTHING (file count and content both unchanged)
    def dataFiles() = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val filesBefore = dataFiles()
    val q2 = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp2")
    try q2.processAllAvailable() finally q2.stop()
    assert(survivors(out) === want, "redelivery changed the survivor table")
    assert(dataFiles() === filesBefore, "redelivery published files")
    rmTree(tmp)
  }

  test("st8 kill mid-append: the retry completes the batch without duplicating the landed half") {
    import spark.implicits._
    val b0 = Seq((0L, "alpha alpha", "en", "web")).toDF("doc_id", "text", "lang", "source")
    val b1 = Seq((1L, "beta beta", "en", "web"), (2L, "gamma gamma", "en", "web"),
        (3L, "delta delta", "en", "web"), (4L, "alpha alpha", "en", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_kill_spec").toFile
    val incoming = tmp.getAbsolutePath + "/incoming"
    val out = tmp.getAbsolutePath + "/survivors"
    landTwoFiles(incoming, b0, b1)
    // kill batch 1 mid-append: half its FRESH rows land (the committed-
    // task state of a killed append job), then the query dies
    DedupStream.dedupIngestFaultHook = fresh => {
      if (fresh.filter(col("doc_id") > 0L).count() > 0) {
        fresh.filter(col("doc_id") === 1L).write.mode("append").parquet(out)
        throw new RuntimeException("injected mid-append crash")
      }
    }
    try {
      val q = DedupStream.exactDedupIngest(spark, incoming, out,
        tmp.getAbsolutePath + "/cp")
      intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    } finally DedupStream.dedupIngestFaultHook = _ => ()
    // torn state is real: doc 1 landed, docs 2/3 did not
    val mid = survivors(out).map(_._1)
    assert(mid.contains(1L) && !mid.contains(2L) && !mid.contains(3L),
      s"crash fixture must leave a half-appended batch, got $mid")
    // restart on the SAME checkpoint: the batch redelivers in full;
    // the survivor-table anti-join drops the landed half and appends
    // ONLY the missing rows — content equals a clean run, and doc 4
    // (duplicate of 0) still drops
    val q2 = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp")
    try q2.processAllAvailable() finally q2.stop()
    assert(survivors(out).map(_._1) === Seq(0L, 1L, 2L, 3L),
      "retry must complete the batch exactly once")
    rmTree(tmp)
  }

  test("st8 first batch killed before its append: readOrEmpty is the empty relation, the retry lands all") {
    import spark.implicits._
    val b0 = Seq((0L, "alpha alpha", "en", "web"), (1L, "beta beta", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq((2L, "gamma gamma", "en", "web")).toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_first_kill_spec").toFile
    val incoming = tmp.getAbsolutePath + "/incoming"
    val out = tmp.getAbsolutePath + "/survivors"
    landTwoFiles(incoming, b0, b1)
    // the bloom merges BEFORE the append, so this kill leaves the
    // survivor root holding only the _ledger_index sidecar
    DedupStream.dedupIngestFaultHook = _ => throw new RuntimeException("injected pre-append crash")
    try {
      val q = DedupStream.exactDedupIngest(spark, incoming, out,
        tmp.getAbsolutePath + "/cp")
      intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    } finally DedupStream.dedupIngestFaultHook = _ => ()
    assert(new java.io.File(out).list().toSeq === Seq(graft.streaming.LedgerIndex.Dir),
      "the kill must leave the sidecar alone")
    val ddl = "doc_id BIGINT, text STRING, lang STRING, source STRING, digest STRING"
    val empty = graft.operators.Dedup.readOrEmpty(spark, out, ddl)
    assert(empty.count() === 0)
    assert(empty.schema === org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val q2 = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp")
    try q2.processAllAvailable() finally q2.stop()
    assert(survivors(out).map(_._1) === Seq(0L, 1L, 2L),
      "the retry must land every row the killed batch held")
    rmTree(tmp)
  }

  test("st8 dropped ledger sidecar rebuilds from the survivor table; redelivery still publishes nothing") {
    import spark.implicits._
    val b0 = Seq((0L, "alpha alpha", "en", "web"), (1L, "beta beta", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq((2L, "alpha alpha", "en", "books"), (3L, "gamma gamma", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_sidecar_spec").toFile
    val incoming = tmp.getAbsolutePath + "/incoming"
    val out = tmp.getAbsolutePath + "/survivors"
    landTwoFiles(incoming, b0, b1)
    val q = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp1")
    try q.processAllAvailable() finally q.stop()
    val want = survivors(out)
    assert(want.map(_._1) === Seq(0L, 1L, 3L))
    // drop the bloom sidecar (a torn overwrite or a pre-sidecar
    // table); the rebuild path must fold the survivor digests once and
    // a full redelivery must still publish nothing
    val sidecar = new java.io.File(out, graft.streaming.LedgerIndex.Dir)
    assert(sidecar.exists(), "the stream must maintain the bloom sidecar")
    rmTree(sidecar)
    def dataFiles() = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = dataFiles()
    val q2 = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp2")
    try q2.processAllAvailable() finally q2.stop()
    assert(survivors(out) === want, "redelivery after sidecar loss changed the table")
    assert(dataFiles() === before, "redelivery published files")
    assert(sidecar.exists(), "the sidecar must rebuild on the next open")
    rmTree(tmp)
  }

  test("ledger sidecar journal: steady batches append deltas, cold open folds them, bulk compacts, memo is single-writer") {
    import spark.implicits._
    import graft.streaming.LedgerIndex
    val root = java.nio.file.Files.createTempDirectory("ledger_journal_spec")
      .toFile.getAbsolutePath
    def keys(ids: Long*) = ids.toDF("k")
    def sidecarFiles() = new java.io.File(root, LedgerIndex.Dir).listFiles()
      .map(_.getName) // drop hadoop-local .crc shadows and tmp staging
      .filterNot(n => n.endsWith(".tmp") || n.startsWith(".")).sorted.toSeq
    def baseHeaderN(): Long = { // nLanded as WRITTEN in index.bin
      val in = new java.io.DataInputStream(new java.io.FileInputStream(
        new java.io.File(s"$root/${LedgerIndex.Dir}", "index.bin")))
      try in.readLong() finally in.close()
    }
    // first landing: a full base, no journal
    LedgerIndex.mergeIncrement(spark, root, keys(1L, 2L, 3L), "k", None)
    assert(sidecarFiles() === Seq("index.bin"))
    val idx0 = LedgerIndex.read(spark, root).get
    assert(idx0.nLanded === 3L)
    // steady increment: ONE delta file appends; the base is NOT
    // rewritten (its header still carries the first landing's count)
    // while the merged in-process view carries all five keys
    LedgerIndex.mergeIncrement(spark, root, keys(4L, 5L), "k", Some(idx0))
    assert(sidecarFiles() === Seq("delta_0000000000.bin", "index.bin"))
    assert(baseHeaderN() === 3L)
    val idx1 = LedgerIndex.read(spark, root).get
    assert(idx1.nLanded === 5L)
    // cold open (fresh process): the fold of base + journal must see
    // the journaled keys — key 4 verifies as a re-arrival and only the
    // genuinely-new key 6 passes the fresh filter
    LedgerIndex.dropMemoForTest(root)
    val cold = LedgerIndex.read(spark, root).get
    assert(cold.nLanded === 5L)
    val fresh = LedgerIndex.filterFresh(keys(4L, 6L), "k", cold,
        keys(1L, 2L, 3L, 4L, 5L))
      .collect().map(_.getLong(0)).toSeq
    assert(fresh === Seq(6L), s"journaled key 4 must probe as landed, got $fresh")
    // a bulk increment (past the driver-put bound) takes the
    // distributed fold and COMPACTS: full base rewrite, journal cleared
    LedgerIndex.mergeIncrement(spark, root,
      spark.range(100L, 101000L).select(col("id").as("k")), "k", Some(cold))
    assert(sidecarFiles() === Seq("index.bin"), "bulk landing must fold the journal away")
    LedgerIndex.dropMemoForTest(root)
    assert(LedgerIndex.read(spark, root).get.nLanded === 5L + 100900L)
    // single-writer contract: with live in-process state, an external
    // REPLACEMENT of the base is served from the memo (not detected)…
    val served = LedgerIndex.read(spark, root).get
    val f = new java.io.File(s"$root/${LedgerIndex.Dir}", "index.bin")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath,
      java.util.Arrays.copyOf(bytes, 16)) // truncated foreign write
    assert(LedgerIndex.read(spark, root).get eq served,
      "a second writer's in-place replacement must not silently adopt")
    // …while an external DROP is honored on the very next read
    rmTree(new java.io.File(root, LedgerIndex.Dir))
    assert(LedgerIndex.read(spark, root).isEmpty,
      "a dropped sidecar must be detected by the presence check")
    rmTree(new java.io.File(root))
  }

  test("ledger sidecar: after several batches the live bloom is bit-equal to a cold open of base + journal") {
    import spark.implicits._
    import graft.streaming.LedgerIndex
    val root = java.nio.file.Files.createTempDirectory("ledger_live_spec")
      .toFile.getAbsolutePath
    // a base, then steady batches through both merge paths (the
    // collect form st8 takes and the driver-held hashes form of the
    // bucket gate), each merging into the index the last read served
    LedgerIndex.mergeIncrement(spark, root, Seq(1L, 2L, 3L).toDF("k"), "k", None)
    for (b <- 1 to 4) {
      val ids = (b * 10L until b * 10L + 5L)
      LedgerIndex.mergeIncrement(spark, root, ids.toDF("k"), "k",
        LedgerIndex.read(spark, root))
    }
    LedgerIndex.mergeHashes(spark, root, Array(7L, 8L, 9L), LedgerIndex.read(spark, root))
    val warm = LedgerIndex.read(spark, root).get
    val files = new java.io.File(root, LedgerIndex.Dir).list()
      .filter(_.startsWith("delta_"))
    assert(files.length === 5, s"steady batches must journal, found ${files.toSeq}")
    LedgerIndex.dropMemoForTest(root)
    val cold = LedgerIndex.read(spark, root).get
    assert(cold.nLanded === warm.nLanded && cold.expectedItems === warm.expectedItems)
    assert(java.util.Arrays.equals(LedgerIndex.serialize(cold.bloom),
      LedgerIndex.serialize(warm.bloom)), "the live bloom drifted from base + journal")
    rmTree(new java.io.File(root))
  }

  test("st8 out-of-order arrival: the first ARRIVAL wins, the digest set stays arrival-invariant") {
    import spark.implicits._
    // PERMUTED arrival: the LARGER id of an exact-dup group arrives
    // first, its smaller-id copy a batch later — the inversion of the
    // pinned id-ordered fixtures, pinning what first-wins-by-arrival
    // actually does when arrival order and id order disagree
    val b0 = Seq((9L, "the quick brown fox jumps over the lazy dog", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq(
      (2L, "the quick brown fox jumps over the lazy dog", "en", "web"),
      (3L, "a second document with entirely different words", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_ooo_spec").toFile
    val incoming = tmp.getAbsolutePath + "/incoming"
    val out = tmp.getAbsolutePath + "/survivors"
    landTwoFiles(incoming, b0, b1)
    val q = DedupStream.exactDedupIngest(spark, incoming, out,
      tmp.getAbsolutePath + "/cp")
    try q.processAllAvailable() finally q.stop()
    // the landed copy (9) wins; the late smaller-id arrival (2) is the
    // duplicate — the batch min-id rule would have chosen 2 instead
    val ids = survivors(out).map(_._1)
    assert(ids === Seq(3L, 9L),
      "out-of-order arrival must keep the FIRST arrival, not the min id")
    // the digest SET — what dedup exists to bound — equals the batch
    // tier's under any arrival order
    val digests = survivors(out).map(_._2).toSet
    val wantDigests = b0.unionByName(b1).withColumn("digest", md5(col("text")))
      .select(col("digest")).distinct().collect().map(_.getString(0)).toSet
    assert(digests === wantDigests)
    rmTree(tmp)
  }

  test("st8 gate form equals the batch dedup on the fixture corpus") {
    val got = graft.operators.Dedup.streamedExactDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = Tables.documents(spark, sfDir)
      .withColumn("digest", md5(col("text")))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("digest")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }
}
