package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** T5 masking semantics pinned on planted strings (the fixture carries
  * no natural PII, so the operator derives it — these literals prove
  * the patterns and the global replace do what redaction requires). */
class TextOpsSpec extends SparkSpec {

  test("pii scrub masks planted emails and phones exactly") {
    import spark.implicits._
    val planted = Seq(
      ("write to alice.smith+x@sub.domain.co today",
        1, 0, "write to [EMAIL] today"),
      ("call 555-1234 or 555-9876 now",
        0, 2, "call [PHONE] or [PHONE] now"),
      ("bob@ex.org and 555-0000",
        1, 1, "[EMAIL] and [PHONE]"),
      // 7-digit run has no dash; b@c has no dotted TLD — neither is PII
      ("no pii here 5551234 b@c",
        0, 0, "no pii here 5551234 b@c")
    ).toDF("text", "e", "p", "masked")
    val rows = planted.select(
      regexp_count(col("text"), lit(TextOps.EmailPattern)).as("ne"),
      regexp_count(col("text"), lit(TextOps.PhonePattern)).as("np"),
      regexp_replace(
        regexp_replace(col("text"), TextOps.EmailPattern, "[EMAIL]"),
        TextOps.PhonePattern, "[PHONE]").as("s"),
      col("e"), col("p"), col("masked")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(3), s"email count on '${r.getString(5)}'")
      assert(r.getInt(1) === r.getInt(4), s"phone count on '${r.getString(5)}'")
      assert(r.getString(2) === r.getString(5))
    }
  }

  test("pii scrub emits one row per customer with the derived occurrence counts") {
    val rows = operators.TextOps.piiScrub(spark, sfDir).collect()
    assert(rows.length === Tables.customer(spark, sfDir).count())
    rows.foreach { r =>
      val key = r.getLong(0)
      assert(r.getInt(1) === 1, s"customer $key email count")
      assert(r.getInt(2) === (key % 3).toInt, s"customer $key phone count")
    }
  }

  test("repetition stats on planted docs: dup fraction, top gram, short-doc sentinel") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a b a b a b"),        // grams: a-b ×3, b-a ×2 → 5 grams, 2 distinct
      (2L, "w x y z"),            // 3 grams, all distinct
      (3L, "solo"),               // <2 tokens → zero row, not dropped
      (4L, ""),                   // empty text → zero row
      (5L, "t t t t t t t t t t t")) // one gram repeated 10× → both flags
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStatsOf(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L), "every doc accounted for")
    // doc 1: dup = (5-2)/5 = 600000 ppm; top = a b ×3 → 600000 ppm
    assert(got(1L).getLong(1) === 5L)
    assert(got(1L).getLong(2) === 600000L)
    assert(got(1L).getString(3) === "a b")
    assert(got(1L).getLong(4) === 600000L)
    assert(got(1L).getBoolean(5))
    // doc 2: no repetition; top gram is the count-1 tie broken to the
    // lexicographically largest ("y z")
    assert(got(2L).getLong(2) === 0L)
    assert(got(2L).getString(3) === "y z")
    assert(got(2L).getLong(4) === 333333L)
    // short docs: zero stats, empty top gram, never flagged
    Seq(3L, 4L).foreach { id =>
      assert(got(id).getLong(1) === 0L && got(id).getLong(2) === 0L &&
        got(id).getString(3) === "" && got(id).getLong(4) === 0L &&
        !got(id).getBoolean(5), s"doc $id sentinel row wrong")
    }
    // doc 5: t-t ×10 of 10 grams → 1000000 ppm on both measures
    assert(got(5L).getLong(2) === 900000L && got(5L).getLong(4) === 1000000L &&
      got(5L).getBoolean(5))
  }

  test("repetition thresholds are parametric; defaults are the published Gopher point") {
    // the operator defaults to the published ~0.2 fractions; the gate
    // passes the fixture constants explicitly. Flags must follow the
    // chosen operating point row-by-row, and the (stricter) fixture
    // flag set must contain the Gopher flag set.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val atGopher = TextOps.repetitionStatsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getBoolean(5)))
    atGopher.foreach { case (id, dup, top, flagged) =>
      assert(flagged === (dup > TextOps.GopherDupGramPpm ||
        top > TextOps.GopherTopGramPpm), s"doc $id flag wrong at Gopher point")
    }
    val gopherFlagged = atGopher.filter(_._4).map(_._1).toSet
    val fixtureFlagged = TextOps.repetitionStats(spark, sfDir).collect()
      .filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    assert(gopherFlagged.subsetOf(fixtureFlagged),
      "a doc flagged at 0.2 must also flag at the stricter fixture point")
    assert(fixtureFlagged.nonEmpty, "fixture gate must flag something")
  }

  test("repetition stats rollup aggregates with partial combine, no window") {
    val p = TextOps.repetitionStats(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"top-gram argmax must be max(struct), not a window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"no map-side partial aggregation in:\n$p")
  }

  test("bigram surprisal (t7) on planted docs: quantized scores, buckets, zero row") {
    import spark.implicits._
    val planted = Seq(
      (1L, "en", "c c c c c"),   // 4× the corpus' hot bigram → low surprisal
      (2L, "en", "c c r1 r2"),   // one hot + two singletons
      (3L, "en", "z1 z2"),       // pure singleton → max surprisal
      (4L, "en", "solo"))        // <2 tokens → zero row, head bucket
      .toDF("doc_id", "lang", "text")
    val got = TextOps.bigramSurprisalOf(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    // counts: "c c"×5, three singletons → N=8, ⌊log2 8⌋=3, ⌊log2 5⌋=2,
    // ⌊log2 1⌋=0 → q(hot)=1, q(singleton)=3
    // ntile over 4 docs ordered (score, id): tiles {4,1},{2},{3}
    assert(got(1L) === ((4L, 1000L, 1)))             // 4×1/4
    assert(got(2L) === ((3L, 2333L, 2)))             // (1+3+3)/3 floored
    assert(got(3L) === ((1L, 3000L, 3)))
    assert(got(4L) === ((0L, 0L, 1)))
    // the ordering a perplexity filter needs: formulaic < mixed < salad
    assert(got(1L)._2 < got(2L)._2 && got(2L)._2 < got(3L)._2)
  }

  test("bigram surprisal (t7) matches a driver-side LM mirror on the fixture") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("\\s+").filter(_.nonEmpty)))
    // mirror counts bigram STRINGS — agreement also proves the 60-bit
    // hash introduced no collision on this corpus
    val bigrams = docs.flatMap { case (id, _, w) =>
      if (w.length >= 2) w.sliding(2).map(p => (id, p.mkString(" "))).toSeq else Nil
    }
    val counts = bigrams.groupBy(_._2).map { case (g, o) => g -> o.size }
    val n = bigrams.length
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val per = bigrams.groupBy(_._1).map { case (id, bs) =>
      val q = bs.map(b => bitlen(n) - bitlen(counts(b._2))).sum
      id -> (bs.size.toLong, math.floor(q * 1000.0 / bs.size).toLong)
    }
    val scored = docs.map { case (id, lang, _) =>
      (id, lang, per.get(id).map(_._1).getOrElse(0L), per.get(id).map(_._2).getOrElse(0L))
    }
    // ntile(3) mirror: first (n mod 3) tiles carry ceil(n/3) rows
    val expected = scored.groupBy(_._2).iterator.flatMap { case (_, ds) =>
      val sorted = ds.sortBy(d => (d._4, d._1))
      val (base, rem) = (sorted.length / 3, sorted.length % 3)
      sorted.zipWithIndex.map { case ((id, _, nb, s), i) =>
        val bucket = (0 until 3).scanLeft(0)((acc, t) =>
          acc + base + (if (t < rem) 1 else 0)).tail.indexWhere(i < _) + 1
        id -> (nb, s, bucket)
      }
    }.toMap
    val got = TextOps.bigramSurprisal(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got === expected)
  }

  test("sampled buckets (t7b): cuts mirror rank statistics of the hash sample") {
    // scores are already hash-checked and driver-mirrored (t7 tests);
    // here the sampling/cut/assignment step is recomputed driver-side
    // from t7b's own score columns
    val rows = TextOps.bigramSurprisalSampled(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getInt(4)))
    def inSample(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"t7b:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(4)
      Integer.parseInt(hex, 16) < TextOps.SampleCutBuckets
    }
    val byLang = rows.groupBy(_._2)
    byLang.foreach { case (lang, docs) =>
      val sample = docs.filter(d => inSample(d._1)).sortBy(d => (d._3, d._1))
      val expectBucket: Long => Int =
        if (sample.isEmpty) _ => 2
        else {
          val n = sample.length
          val c1 = sample((n + 2) / 3 - 1)._3
          val c2 = sample((n * 2 + 2) / 3 - 1)._3
          s => if (s <= c1) 1 else if (s <= c2) 2 else 3
        }
      docs.foreach { d =>
        assert(d._4 === expectBucket(d._3), s"doc ${d._1} ($lang, score ${d._3})")
      }
      // buckets are monotone in score within a language by construction
      val sorted = docs.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4 || a._3 == b._3)
        case _ => ()
      }
    }
    assert(rows.length === Tables.documents(spark, sfDir).count())
  }

  test("chunk windows: geometry and contents on planted docs + fixture coverage") {
    import spark.implicits._
    val w = TextOps.ChunkWindow
    val s = TextOps.ChunkStride
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val planted = Seq(
      (1L, "", "en"), // zero tokens -> zero chunks
      (2L, "solo", "en"), // one short chunk
      (3L, words(w), "en"), // exactly one full window
      (4L, words(w + 1), "en"), // spills into a 2nd chunk
      (5L, words(2 * s + w), "en"), // exactly three full-coverage chunks
      (6L, words(100), "de")
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.chunkWindowsOf(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getString(5)))

    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = planted.collect().flatMap { r =>
      val toks = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
      val n = toks.length
      if (n == 0) Seq.empty
      else {
        val nChunks = if (n <= w) 1 else 1 + (n - w + s - 1) / s
        (0 until nChunks).map { i =>
          val start = i * s // 0-based here, 1-based in the frame
          val len = math.min(w, n - start)
          (r.getLong(0), i.toLong, start + 1L, len.toLong,
            md5hex(toks.slice(start, start + len).mkString(" ")))
        }
      }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got.toSeq === expected)
    // every token is covered: chunk i+1 starts inside chunk i's span
    got.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 <= a._3 + a._4, s"doc $id: gap between chunks ${a._2},${b._2}")
        case _ => ()
      }
      val last = sorted.last
      assert(last._3 + last._4 - 1 ===
        expected.filter(_._1 == id).map(e => e._3 + e._4 - 1).max)
    }
    // fixture: n_chunks per doc matches the closed form, all docs present
    val fixture = TextOps.chunkWindows(spark, sfDir)
    val perDoc = fixture.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    lens.foreach { case (id, n) =>
      val exp = if (n == 0) 0L else if (n <= w) 1L else 1L + (n - w + s - 1) / s
      assert(perDoc.getOrElse(id, 0L) === exp, s"doc $id with $n tokens")
    }
  }

  test("heavy hitters (t10): exact answer, candidate prune is safe AND effective") {
    import graft.Tables
    val docs = Tables.documents(spark, sfDir)
    // ground truth: plain exact count + threshold, driver-side
    val allToks = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      .collect().map(_.getString(0))
    val n = allToks.length.toLong
    val thresh = math.max(1L, math.floor(n / TextOps.HhSupportDiv.toDouble).toLong)
    val exact = allToks.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= thresh).toMap
    val out = TextOps.heavyHitters(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === exact, "sketch-prefiltered result diverged from exact truth")
    assert(out.nonEmpty, "fixture yields no heavy hitters — threshold miscalibrated")
    // sorted desc with token tie-break
    val rows = TextOps.heavyHitters(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.sortBy { case (t, c) => (-c, t) }.toSeq === rows.toSeq)
    // prune safety on the fixture: candidates ⊇ truth (CMS never
    // undercounts)
    val (candF, _, cachedF) = TextOps.heavyHitterCandidates(docs)
    val cand = candF.select(col("token")).distinct().collect().map(_.getString(0)).toSet
    cachedF.foreach(_.unpersist(true))
    assert(exact.keySet.subsetOf(cand), "a true heavy hitter was pruned — CMS broken")
    // prune EFFECTIVENESS needs a long-tail vocabulary (the sf0.001
    // fixture has ~31 distinct tokens, nearly all genuinely heavy):
    // planted Zipf-ish corpus — 2 hot tokens, 2000 singletons
    import spark.implicits._
    val planted = (0 until 2000).map(i => s"hot common rare$i").toDF("text")
    val (candP, _, cachedP) = TextOps.heavyHitterCandidates(planted)
    val candSet = candP.select(col("token")).distinct().collect().map(_.getString(0)).toSet
    cachedP.foreach(_.unpersist(true))
    assert(Set("hot", "common").subsetOf(candSet), "hot tokens pruned")
    assert(candSet.size < 2002 / 10,
      s"prune ineffective on long tail: ${candSet.size} candidates of 2002 vocab")
    // and the exact verify trims any colliding singletons to the truth
    val outP = TextOps.heavyHittersOf(planted).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(outP === Map("hot" -> 2000L, "common" -> 2000L))
  }

  /** Driver-side exact-integer mirror of TextOps.bm25ScoredOf — the
    * identical rational-idf / common-denominator arithmetic in BigInt,
    * so a divergence is a plan bug, never float noise. */
  private def bm25Mirror(texts: Map[Long, String], terms: Seq[String]): Map[Long, Long] = {
    val toks = texts.view.mapValues(_.trim.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val n = BigInt(texts.size)
    val t = BigInt(toks.values.map(_.size).sum)
    val df = terms.map(q => q ->
      BigInt(toks.values.count(_.exists(_.toLowerCase == q)))).toMap
    toks.map { case (id, w) =>
      val dl = BigInt(w.size)
      val score = terms.map { q =>
        val tf = BigInt(w.count(_.toLowerCase == q))
        val num = BigInt(44000) * tf * t * (2 * n - 2 * df(q) + 1)
        val den = ((2 * df(q) + 1) *
          (BigInt(20) * tf * t + 6 * t + BigInt(18) * dl * n)).max(BigInt(1))
        num / den
      }.sum
      id -> score.toLong
    }
  }

  test("bm25 (t11): engine scores equal the exact-integer driver mirror") {
    import spark.implicits._
    val texts = Map[Long, String](
      0L -> "alpha beta beta gamma",
      1L -> "alpha alpha alpha alpha delta",
      2L -> "beta beta beta beta beta beta beta beta",
      3L -> "delta epsilon zeta eta theta iota kappa",
      4L -> "alpha beta",
      5L -> "")
    val docs = texts.toSeq.map { case (id, tx) => (id, tx, "en") }
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val scored = TextOps.bm25ScoredOf(docs, terms)
    val got = scored.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === bm25Mirror(texts, terms))
    // membership sanity: docs with no query term score exactly 0
    assert(got(3L) === 0L && got(5L) === 0L)
    assert(got.values.count(_ > 0L) === 4)
  }

  test("bm25 (t11): idf, tf-saturation, and length-penalty orderings hold") {
    import spark.implicits._
    // corpus: 'rare' in 1 of 6 docs, 'common' in 5 of 6; probe docs
    // have identical length and tf for their term
    val texts = Map[Long, String](
      0L -> "rare filler filler filler",
      1L -> "common filler filler filler",
      2L -> "common x1 y1 z1",
      3L -> "common x2 y2 z2",
      4L -> "common x3 y3 z3",
      5L -> "common x4 y4 z4")
    val docs = texts.toSeq.map { case (id, tx) => (id, tx, "en") }
      .toDF("doc_id", "text", "lang")
    val s = {
      val f = TextOps.bm25ScoredOf(docs, Seq("rare", "common"))
      f.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    assert(s(0L) > s(1L), s"rare-term doc must outscore common-term doc: $s")
    // tf monotone at fixed dl, with saturation (diminishing returns)
    val texts2 = Map[Long, String](
      0L -> "q a b c d e f g",
      1L -> "q q a b c d e f",
      2L -> "q q q a b c d e",
      3L -> "a b c d e f g h")
    val docs2 = texts2.toSeq.map { case (id, tx) => (id, tx, "en") }
      .toDF("doc_id", "text", "lang")
    val s2 = {
      val f = TextOps.bm25ScoredOf(docs2, Seq("q"))
      f.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    assert(s2(0L) < s2(1L) && s2(1L) < s2(2L), s"tf not monotone: $s2")
    assert(s2(1L) - s2(0L) > s2(2L) - s2(1L), s"no tf saturation: $s2")
    // length penalty: same tf, longer doc scores lower
    val texts3 = Map[Long, String](
      0L -> "q a b c",
      1L -> "q a b c d e f g h i j k l m n o",
      2L -> "z z z z")
    val docs3 = texts3.toSeq.map { case (id, tx) => (id, tx, "en") }
      .toDF("doc_id", "text", "lang")
    val s3 = {
      val f = TextOps.bm25ScoredOf(docs3, Seq("q"))
      f.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    assert(s3(0L) > s3(1L), s"no length penalty: $s3")
  }

  test("bm25 indexed (t11b): landed-index probe equals the scan path on a planted corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"),
      (3L, "delta epsilon zeta eta theta iota kappa", "en"),
      (4L, "alpha beta", "de"),
      (5L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, path)
    // driver-side bucket twin == the materializer's bucket values
    val landed = spark.read.parquet(s"$path/postings")
      .select(col("tok"), col("bucket").cast("long")).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    landed.foreach { case (tok, b) =>
      assert(TextOps.bm25BucketOf(tok) === b, s"bucket twin diverged for '$tok'")
    }
    val viaIndex = TextOps.bm25OverIndex(spark, path, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaScan = TextOps.bm25Of(docs, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaIndex === viaScan, "indexed page diverged from scan page")
    assert(viaIndex.nonEmpty)
    // empty-corpus landing: probe returns an empty page, no crash
    val emptyPath = tmp.getAbsolutePath + "/idx_empty"
    TextOps.materializeBm25IndexOf(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang"), emptyPath)
    assert(TextOps.bm25OverIndex(spark, emptyPath, terms, 10).count() === 0)
    rmTree(tmp)
  }

  test("bm25 append (t11c): landed files byte-identical, maintained index equals full build") {
    import spark.implicits._
    val batch1 = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"))
      .toDF("doc_id", "text", "lang")
    val batch2 = Seq(
      (3L, "delta epsilon alpha", "en"),
      (4L, "alpha beta", "de"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_incr_spec").toFile
    val maintained = tmp.getAbsolutePath + "/idx_m"
    val rebuilt = tmp.getAbsolutePath + "/idx_r"
    TextOps.materializeBm25IndexOf(batch1, maintained)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(maintained))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    TextOps.bm25IndexAppend(spark, maintained, batch2)
    val after = files()
    // append-only: every batch-1 file untouched, new files only
    before.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"append rewrote a landed file: $p")
    }
    assert(after.size > before.size, "append landed no new files")
    // the maintained index answers exactly what a full build answers
    TextOps.materializeBm25IndexOf(batch1.unionByName(batch2), rebuilt)
    val viaMaintained = TextOps.bm25OverIndex(spark, maintained, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaRebuilt = TextOps.bm25OverIndex(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaMaintained === viaRebuilt, "maintained index diverged from full rebuild")
    assert(viaMaintained.nonEmpty)
    // stats really is two partial rows summing to the union's totals
    val statRows = spark.read.parquet(s"$maintained/stats").collect()
    assert(statRows.length === 2, "append must add a partial stats row, not rewrite")
    assert(statRows.map(_.getLong(0)).sum === 5L)
    // idempotence guard: re-appending an already-indexed batch is a
    // no-op — the docids anti-join drops every doc, scores unchanged
    TextOps.bm25IndexAppend(spark, maintained, batch2)
    val afterRetry = TextOps.bm25OverIndex(spark, maintained, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(afterRetry === viaMaintained, "retried batch double-counted")
    val nSum = spark.read.parquet(s"$maintained/stats").collect().map(_.getLong(0)).sum
    assert(nSum === 5L, "retried batch inflated N")
    rmTree(tmp)
  }

  test("bm25 delete (t11e): tombstone liveness — zero rewrites, accounting nets, " +
      "re-add serves only the new generation") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"),
      (3L, "delta epsilon zeta eta theta iota kappa", "en"),
      (4L, "alpha beta", "de"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_del_spec").toFile
    val idx = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, idx)
    def postingFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$idx/postings"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val postingsBefore = postingFiles()
    val doomed = Seq(1L, 3L).toDF("doc_id")
    TextOps.bm25IndexDelete(spark, idx, doomed)
    // THE liveness property: the delete rewrote NO posting file — every
    // landed file byte-identical, dead rows still on disk (reclaim is
    // compaction's job). This is what keeps a CDC release's delete leg
    // change-sized at any token dispersion (the round-11 30× boundary)
    assert(postingFiles() === postingsBefore,
      "tombstone delete must not touch posting files")
    val deadIds = spark.read.parquet(s"$idx/postings")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(Set(1L, 3L).subsetOf(deadIds), "dead postings should remain until compaction")
    // the tombs sidecar names the victims' (doc_id, generation)
    val tombs = spark.read.parquet(s"$idx/tombs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tombs === Set((1L, 0L), (3L, 0L)), "tombs sidecar wrong")
    // serving equals a rebuild over the filtered corpus
    val rebuilt = tmp.getAbsolutePath + "/idx_rebuilt"
    TextOps.materializeBm25IndexOf(
      docs.filter(!col("doc_id").isin(1L, 3L)), rebuilt)
    val viaDeleted = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaRebuilt = TextOps.bm25OverIndex(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaDeleted === viaRebuilt, "delete diverged from filtered rebuild")
    assert(viaDeleted.nonEmpty)
    // accounting: initial partial + negative partial net to the 3
    // survivors' totals — Σdl now comes from the ledger's add rows,
    // never from a postings scan
    val stats = spark.read.parquet(s"$idx/stats").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stats.length === 2, "delete must append a negative partial, not rewrite")
    assert(stats.map(_._1).sum === 3L)
    assert(stats.map(_._2).sum === 4L + 8L + 2L, "netted token total wrong")
    val ledger = spark.read.parquet(s"$idx/docids")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(ledger.count(_._2 == 1) === 2, "delete must append one tombstone per doomed doc")
    val live = ledger.groupBy(_._1).collect {
      case (id, rows) if rows.count(_._2 == 0) > rows.count(_._2 == 1) => id
    }.toSet
    assert(live === Set(0L, 2L, 4L), "ledger must read doomed ids as gone")
    // re-running the SAME delete is a no-op: membership excludes the
    // doomed set, so no second tombstone or stats row appends
    TextOps.bm25IndexDelete(spark, idx, doomed)
    assert(spark.read.parquet(s"$idx/stats").count() === 2,
      "retried delete must not append another stats partial")
    assert(spark.read.parquet(s"$idx/docids")
      .collect().count(_.getInt(1) == 1) === 2,
      "retried delete must not append more tombstones")
    // right-to-be-forgotten must not block re-consent — and the
    // re-added doc's text DIFFERS from its deleted generation, so any
    // leak of the gen-0 posting rows (4× "alpha") past the liveness
    // anti-join would inflate tf and break the rebuild equality:
    // delete→re-add serves ONLY the new generation
    val rev2 = Seq((1L, "alpha delta delta", "en")).toDF("doc_id", "text", "lang")
    TextOps.bm25IndexAppend(spark, idx, rev2)
    val genIds = spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === 1L).select(col("gen")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(genIds === Set(0L, 1L), "both generations should coexist on disk")
    val reAdded = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val fullAgain = TextOps.bm25OverIndex(spark, {
      val p = tmp.getAbsolutePath + "/idx_full2"
      TextOps.materializeBm25IndexOf(
        docs.filter(!col("doc_id").isin(1L, 3L)).unionByName(rev2), p); p
    }, terms, 10).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(reAdded === fullAgain,
      "re-added doc must score from its NEW generation only")
    rmTree(tmp)
  }

  test("bm25 delete publish is crash-safe: kill mid-publish, recover on open") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_del_kill_spec").toFile
    val idx = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, idx)
    // kill between the stats and docids renames: tombs + stats are live,
    // the ledger's tombstone rows are not — the exact torn state the
    // shared _ingestlog redo record exists to replay
    graft.streaming.IngestCommit.publishFaultHook =
      sub => if (sub == "docids") throw new RuntimeException("injected mid-publish crash")
    try intercept[RuntimeException] {
      TextOps.bm25IndexDelete(spark, idx, Seq(1L).toDF("doc_id"))
    } finally graft.streaming.IngestCommit.publishFaultHook = _ => ()
    // next open (any maintenance verb) replays the claimed publish;
    // the state then equals a clean delete
    val actions = graft.streaming.IngestCommit.recover(spark, idx)
    assert(actions.exists(_.startsWith("replayed=")), s"expected a replay, got $actions")
    val clean = tmp.getAbsolutePath + "/idx_clean"
    TextOps.materializeBm25IndexOf(docs, clean)
    TextOps.bm25IndexDelete(spark, clean, Seq(1L).toDF("doc_id"))
    val viaRecovered = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaClean = TextOps.bm25OverIndex(spark, clean, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaRecovered === viaClean, "recovered delete diverged from a clean delete")
    assert(spark.read.parquet(s"$idx/docids").collect().count(_.getInt(1) == 1) === 1,
      "replay must land exactly one tombstone")
    // and a RETRIED delete after recovery is a no-op
    TextOps.bm25IndexDelete(spark, idx, Seq(1L).toDF("doc_id"))
    assert(spark.read.parquet(s"$idx/stats").count() === 2,
      "retry after recovery must not append another stats partial")
    rmTree(tmp)
  }

  test("t11g: changelog-applied index serves exactly what a v2 rebuild serves") {
    import graft.operators.SnapshotDiff
    val docs = Tables.documents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_cdc_spec").toFile
    // diff-apply ≡ rebuild at the fixture scale: the gate form (landed
    // index + s19 changelog through delete/append) against a fresh
    // index built directly over the derived v2 corpus
    val rebuilt = tmp.getAbsolutePath + "/idx_v2"
    TextOps.materializeBm25IndexOf(SnapshotDiff.nextRelease(docs), rebuilt)
    val viaCdc = TextOps.bm25CdcTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaRebuilt = TextOps.bm25OverIndex(spark, rebuilt, TextOps.Bm25Terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaCdc === viaRebuilt, "changelog-applied index diverged from v2 rebuild")
    assert(viaCdc.nonEmpty)
    rmTree(tmp)
  }

  test("bm25 batch (t11h): one probe serves every query exactly its solo page") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"),
      (3L, "delta epsilon zeta eta theta iota kappa", "en"),
      (4L, "alpha beta", "de"),
      (5L, "gamma delta", "en"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_batch_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, path)
    // "delta" is shared between q1 and q2 — the shared-term fanout path
    val queries = Seq(0 -> Seq("alpha", "beta"), 1 -> Seq("delta", "gamma"),
      2 -> Seq("delta", "epsilon"))
    val batch = TextOps.bm25BatchOverIndex(spark, path, queries, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
    queries.foreach { case (qid, terms) =>
      val solo = TextOps.bm25OverIndex(spark, path, terms, 10)
        .collect().map(r => (qid, r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(batch.filter(_._1 == qid).toSeq === solo,
        s"batched query $qid diverged from its solo page")
    }
    assert(batch.nonEmpty)
    rmTree(tmp)
  }

  test("bm25 keyset batch page 2 (t11i): equals the offset slice per query, " +
      "including across a score tie at the page boundary") {
    import spark.implicits._
    // enough alpha/beta docs that page 1 (k=2) leaves a real remainder,
    // including a SCORE TIE across the page boundary (docs 10/11 share
    // text, so the cursor's doc_id tiebreak is exercised)
    val docs = ((0L until 10L).map(i =>
      (i, "alpha " * (i + 1).toInt + "beta", "en")) ++
      Seq((10L, "alpha beta beta", "fr"), (11L, "alpha beta beta", "de")))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_page2_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, path)
    val k = 2
    val queries = Seq(0 -> Seq("alpha", "beta"), 1 -> Seq("beta"))
    val cursors = TextOps.bm25BatchOverIndex(spark, path, queries, k)
      .groupBy(col("query_id"))
      .agg(min(struct(col("score_milli"), (-col("doc_id")).as("nd"))).as("c"))
      .select(col("query_id"), col("c.score_milli").as("s_k"), (-col("c.nd")).as("d_k"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // oracle slice per query: full ranking, rows k+1..2k
    queries.foreach { case (qid, terms) =>
      val full = TextOps.bm25OverIndex(spark, path, terms, 100)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy { case (id, _, s) => (-s, id) }
      val expect = full.slice(k, 2 * k).sortBy(_._1)
      val (sK, dK) = cursors(qid)
      val page2 = TextOps.bm25OverIndex(spark, path, terms, 100)
        .filter(col("score_milli") < sK ||
          (col("score_milli") === sK && col("doc_id") > dK))
        .orderBy(desc("score_milli"), col("doc_id")).limit(k)
        .orderBy(col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(page2 === expect, s"keyset page 2 of query $qid diverged from the offset slice")
    }
    rmTree(tmp)
  }

  test("bm25 compact (t11f): artifacts collapse, answers unchanged, ledger still forgets") {
    import spark.implicits._
    val batch1 = Seq(
      (0L, "alpha beta beta gamma", "en"),
      (1L, "alpha alpha alpha alpha delta", "en"),
      (2L, "beta beta beta beta beta beta beta beta", "fr"))
      .toDF("doc_id", "text", "lang")
    val batch2 = Seq(
      (3L, "delta epsilon alpha", "en"),
      (4L, "alpha beta", "de"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_cpt_spec").toFile
    val idx = tmp.getAbsolutePath + "/idx"
    // full lifecycle: build, append, delete — the history compaction folds
    TextOps.materializeBm25IndexOf(batch1, idx)
    TextOps.bm25IndexAppend(spark, idx, batch2)
    TextOps.bm25IndexDelete(spark, idx, Seq(1L).toDF("doc_id"))
    val before = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val compacted = TextOps.bm25IndexCompact(spark, idx)
    val after = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(after === before, "compaction changed an answer")
    assert(after.nonEmpty)
    // postings: every bucket directory holds at most ONE data file
    val bucketDirs = Option(new java.io.File(s"$idx/postings").listFiles())
      .getOrElse(Array.empty).filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val data = d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(data.length <= 1, s"bucket ${d.getName} still fragmented: ${data.length} files")
    }
    assert(compacted.nonEmpty, "the appended buckets were fragmented — compact must touch them")
    // PHYSICAL RECLAIM: the tombstoned doc's posting rows — left on
    // disk by the delete verb — are purged here, and the liveness
    // sidecar drops (probes stop paying the anti-join)
    val leftIds = spark.read.parquet(s"$idx/postings")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(!leftIds.contains(1L), "compaction must reclaim tombstoned postings")
    assert(!new java.io.File(s"$idx/tombs").exists(),
      "compaction must drop the tombs sidecar")
    // stats: the 3 partials (build, append, negative delete) fold to ONE
    // row holding their sum — the 4 survivors' (n, Σdl)
    val stats = spark.read.parquet(s"$idx/stats").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stats.toSeq === Seq((4L, 4L + 8L + 3L + 2L)), "stats must collapse to the netted row")
    // docids: the ledger (5 adds + 1 tombstone) folds to the 4 live adds
    val ledger = spark.read.parquet(s"$idx/docids")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(ledger.forall(_._2 == 0), "compacted ledger must hold add rows only")
    assert(ledger.map(_._1).toSet === Set(0L, 2L, 3L, 4L), "compacted ledger lost the live set")
    // re-running compact on an already-compact index is a LISTING-only
    // no-op: postings report nothing fragmented, and the stats/docids
    // guards (file-count metadata) skip both swaps — no file is
    // rewritten, moved, or touched
    def artifactFiles(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      (walk(new java.io.File(s"$idx/stats")) ++ walk(new java.io.File(s"$idx/docids")))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val filesBefore = artifactFiles()
    assert(TextOps.bm25IndexCompact(spark, idx).isEmpty)
    assert(artifactFiles() === filesBefore,
      "re-run compact must not touch already-compact stats/docids")
    // the compacted ledger still FORGETS: the deleted doc can re-append
    // and scores like a rebuild (tombstone history gone, not membership)
    TextOps.bm25IndexAppend(spark, idx,
      Seq((1L, "alpha alpha alpha alpha delta", "en")).toDF("doc_id", "text", "lang"))
    val reAdded = TextOps.bm25OverIndex(spark, idx, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val rebuilt = tmp.getAbsolutePath + "/idx_rebuilt"
    TextOps.materializeBm25IndexOf(batch1.unionByName(batch2), rebuilt)
    val viaRebuilt = TextOps.bm25OverIndex(spark, rebuilt, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(reAdded === viaRebuilt, "re-append after compaction diverged from rebuild")
    rmTree(tmp)
  }

  test("bm25 maintain policy: below the churn bound a footer no-op, above it the cycle fires itself") {
    import spark.implicits._
    val docs = (0 until 10).map(i => (i.toLong, s"alpha beta doc$i word$i", "en"))
      .toDF("doc_id", "text", "lang")
    val terms = Seq("alpha", "beta")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_maint_spec").toFile
    val idx = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(docs, idx)
    def page(p: String) = TextOps.bm25OverIndex(spark, p, terms, 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // no tombs at all: the policy never fires (footer listing only)
    assert(!TextOps.bm25IndexMaintain(spark, idx))
    TextOps.bm25IndexDelete(spark, idx, Seq(0L).toDF("doc_id"))
    val afterDelete = page(idx)
    // 1 tomb / 9 live = 0.11 ≤ 0.2: the policy DEFERS — the sidecar
    // stays, probes keep paying the change-sized anti-join, answers
    // unchanged (the guard is pure cadence, never correctness)
    assert(!TextOps.bm25IndexMaintain(spark, idx))
    assert(new java.io.File(s"$idx/tombs").exists(),
      "a deferred cycle must not touch the sidecar")
    assert(page(idx) === afterDelete)
    // 3 tombs / 7 live = 0.43 > 0.2: the cycle fires ITSELF — reclaim
    // purges the tombstoned postings and drops the sidecar
    TextOps.bm25IndexDelete(spark, idx, Seq(1L, 2L).toDF("doc_id"))
    assert(TextOps.bm25IndexMaintain(spark, idx))
    assert(!new java.io.File(s"$idx/tombs").exists(),
      "a fired cycle must reclaim the sidecar")
    // answers equal a survivor rebuild — the cycle preserved the page
    val rebuilt = tmp.getAbsolutePath + "/idx_rebuilt"
    TextOps.materializeBm25IndexOf(docs.filter(col("doc_id") >= 3L), rebuilt)
    assert(page(idx) === page(rebuilt))
    // and the fired cycle left nothing to fire: the next call no-ops
    assert(!TextOps.bm25IndexMaintain(spark, idx))
    rmTree(tmp)
  }

  test("faceted search (t11d): facets count the matching set, hits mirror the t11 page") {
    import graft.operators.TextOps
    val rows = TextOps.bm25Faceted(spark, sfDir01).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    val hits = rows.filter(_._1 == "hit")
    val page = TextOps.bm25Rank(spark, sfDir01).collect()
      .map(r => (r.getLong(0).toString, r.getLong(2).toString)).toSet
    assert(hits.map(h => (h._3, h._5)).toSet === page, "hit rows diverge from t11's page")
    // facet counts recount the matching set exactly
    val scored = TextOps.bm25ScoredOf(
      Tables.documents(spark, sfDir01), TextOps.Bm25Terms, extra = Seq("source"))
    val matching = scored.filter(col("score_milli") > 0)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = matching.groupBy(_._1).map { case (l, xs) => (l, xs.length.toString) }
    val bySource = matching.groupBy(_._2).map { case (s, xs) => (s, xs.length.toString) }
    assert(rows.filter(_._1 == "facet_lang").map(r => (r._2, r._4)).toMap === byLang)
    assert(rows.filter(_._1 == "facet_source").map(r => (r._2, r._4)).toMap === bySource)
    // facet totals both sum to |matching| — one set, three views
    assert(byLang.values.map(_.toInt).sum === matching.length)
  }

  test("bm25 (t11): the gate page is the top-10 of the POSITIVE-score frame") {
    import graft.operators.TextOps
    val page = TextOps.bm25Rank(spark, sfDir01).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val full = TextOps.bm25ScoredOf(
      Tables.documents(spark, sfDir01), TextOps.Bm25Terms)
    // retrieval ranks MATCHING docs only — mirror the >0 filter
    val expect = full.collect().map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._2 > 0L)
      .sortBy { case (id, sc) => (-sc, id) }.take(10).sortBy(_._1)
    assert(expect.length === 10, "fixture must have >=10 matching docs")
    assert(page.toSeq === expect.toSeq)
  }

  test("compaction swap: a reader at every swap window sees old, new, or fails loud — never a mix") {
    import spark.implicits._
    // round-15 task #6: the retire-then-publish swaps
    // (TextOps.swapArtifact — stats/docids folds; Partitioned.compact
    // and ivfIndexMaintain share the shape) documented a single-writer
    // + retry contract for concurrent readers but no spec interleaved
    // one WITH the swap. Pin it: from each window a reader returns the
    // complete OLD file set's answer, the complete NEW one's, or a
    // loud path-not-found (the brief retire→publish gap) — and a
    // post-swap retry then sees the new data. Half-swapped reads are
    // unrepresentable because data moves by whole-directory rename.
    val batch1 = Seq((0L, "alpha beta gamma", "en"), (1L, "alpha beta", "en"))
      .toDF("doc_id", "text", "lang")
    val batch2 = Seq((2L, "alpha delta", "en"), (3L, "beta epsilon", "de"))
      .toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_swap_spec").toFile
    val idx = tmp.getAbsolutePath + "/idx"
    TextOps.materializeBm25IndexOf(batch1, idx)
    TextOps.bm25IndexAppend(spark, idx, batch2) // 2 stats partials → the fold fires
    val statsPath = s"$idx/stats"
    val oldRows = spark.read.parquet(statsPath).collect().map(_.toString).toSet
    val seen = scala.collection.mutable.Map.empty[String, Either[String, Set[String]]]
    TextOps.swapFaultHook = (phase, dir) => if (dir == statsPath) {
      seen(phase) = (try Right(spark.read.parquet(statsPath)
          .collect().map(_.toString).toSet)
        catch { case e: Throwable => Left(e.getClass.getSimpleName) })
      ()
    }
    try TextOps.bm25IndexCompact(spark, idx)
    finally TextOps.swapFaultHook = (_, _) => ()
    val newRows = spark.read.parquet(statsPath).collect().map(_.toString).toSet
    assert(newRows !== oldRows, "the fold must actually change the file set")
    // staged window: live dir still the complete OLD artifact
    assert(seen("staged") === Right(oldRows))
    // retired window: the live dir is absent — the reader must fail
    // LOUDLY (retry contract), never observe a partial directory
    assert(seen("retired").isLeft,
      s"reader in the retire gap must fail loud, saw ${seen("retired")}")
    // published window: the complete NEW artifact, before cleanup
    assert(seen("published") === Right(newRows))
    // the retired copy is gone after the swap (no leaked dirs)
    val leaked = Option(new java.io.File(idx).getParentFile.listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.contains("__retired_") || n.contains("__compact_staging"))
    assert(leaked.isEmpty, s"swap leaked dirs: ${leaked.mkString(",")}")
  }
}
