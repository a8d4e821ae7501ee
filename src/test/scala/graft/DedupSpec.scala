package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

class DedupSpec extends SparkSpec {

  test("shingles of short or empty text are empty, no crash") {
    val df = spark.createDataFrame(Seq(
      Tuple1(""), Tuple1("one"), Tuple1("one two"), Tuple1("one two three")))
      .toDF("text")
      .select(Dedup.shingles(col("text")).as("g"))
    val sizes = df.collect().map(_.getSeq[String](0).size)
    assert(sizes.toSeq === Seq(0, 0, 0, 1))
  }

  test("prefix-filtered jaccard (d2b) equals the posting join (d2), incl. threshold-boundary pairs") {
    // fixture equality (the oracle proves this too; here it runs in CI
    // without DuckDB)
    val d2 = Dedup.ngramJaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d2b = Dedup.prefixJaccardPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d2.nonEmpty && d2b === d2)

    // crafted boundary corpus: pairs sitting EXACTLY at jaccard = 0.8,
    // where a prefix one gram too short (the ceil-vs-floor double-
    // rounding hazard: 0.8·n computed as 36.000000000000004 → ceil 37)
    // would silently drop a qualifying pair. Docs of 4..40 tokens →
    // 2..38 trigram-shingles; each "b" doc drops the final token, so
    // the pair shares all but the last ⌈3-1⌉ shingles. Include the
    // n_b = 0.8·n_a exact-ratio family (n_a a multiple of 5).
    def words(k: Int, tag: String): String =
      (1 to k).map(i => s"w${tag}_$i").mkString(" ")
    val rows = (5 to 40).flatMap { k =>
      Seq((k.toLong * 2, words(k, s"k$k")),
          (k.toLong * 2 + 1, words(k, s"k$k") + " zzz_tail"))
    }
    val frame = spark.createDataFrame(rows).toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairsOf(frame).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val prefixed = Dedup.prefixJaccardPairsOf(frame).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(exact.nonEmpty, "boundary corpus should contain qualifying pairs")
    assert(exact.exists(_._4 == 0.8),
      s"corpus should plant a pair at exactly the 0.8 threshold: ${exact.map(_._4)}")
    assert(prefixed === exact,
      s"missing=${exact.diff(prefixed)} extra=${prefixed.diff(exact)}")
  }

  test("d7c incremental clusters: arriving edges merge, attach, and spawn components exactly like a full CC") {
    import spark.implicits._
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L, 13L, 14L)
    // base components {1,2}, {5,6}, {20,21}; old node 9 has NO base
    // edge. Arrivals: 10 BRIDGES the first two components (merge),
    // (11,12) is an isolated new pair (spawn), (9,14) gives an
    // edge-less old node its first edge (attach), {20,21} is untouched
    // (must keep its label with zero quotient work).
    val all = Seq((1L, 2L), (5L, 6L), (20L, 21L),
      (2L, 10L), (10L, 5L), (11L, 12L), (9L, 14L)).toDF("a_id", "b_id")
    val base = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val got = Dedup.dedupClustersIncrementalOf(all,
        Graph.connectedComponents(base), isNew)
      .as[(Long, Long, Long)].collect().toSet
    val labelsFull = Graph.connectedComponents(all)
    val full = labelsFull
      .join(labelsFull.groupBy(col("label")).agg(count(lit(1)).as("n")), Seq("label"))
      .select(col("doc_id"), col("label"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === full, "quotient compose diverged from the full CC")
    assert(got === Set(
      (1L, 1L, 5L), (2L, 1L, 5L), (5L, 1L, 5L), (6L, 1L, 5L), (10L, 1L, 5L),
      (11L, 11L, 2L), (12L, 11L, 2L),
      (9L, 9L, 2L), (14L, 9L, 2L),
      (20L, 20L, 2L), (21L, 20L, 2L)))
  }

  test("d7c gate form equals d7 on the fixture corpus") {
    val got = Dedup.dedupClustersIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = Dedup.dedupClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  test("minhash LSH finds the same near-dup pairs as exact n-gram jaccard") {
    val exact = Dedup.ngramJaccardPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // LSH candidates are verified with exact jaccard → no false positives
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // recall on the planted dups should be high (16 hashes / 4 bands at j>=0.8
    // gives pair-catch probability >0.99)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low: missed ${exact.diff(lsh)}")
  }

  test("hot-band salted self-join equals the plain join; the hot key's a-side spreads over all salts") {
    import spark.implicits._
    import graft.operators.Dedup
    // planted hot bucket: 40 docs share one (band, bucket); two cold
    // buckets hold a pair and a singleton. Threshold 10 marks only the
    // hot key; the salted join must lose and invent nothing.
    val hot = (0L until 40L).map(i => (i, 0, "HOTBUCKET"))
    val cold = Seq((100L, 1, "c1"), (101L, 1, "c1"), (102L, 2, "c2"))
    val buckets = (hot ++ cold).toDF("doc_id", "band", "bucket")
      .localCheckpoint(true)
    def plain = buckets.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
      .join(buckets.select(col("doc_id").as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val salted = Dedup.saltedBandSelfJoin(buckets, 10L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted === plain, "salting changed the candidate set")
    assert(salted.size === 40 * 39 / 2 + 1)
    // the skew property: the hot key's a-side rows scatter over EVERY
    // salt sub-key (deterministic doc_id hash), so no single task owns
    // the hot key's pair enumeration
    val spread = buckets.filter(col("bucket") === "HOTBUCKET")
      .select(pmod(xxhash64(col("doc_id")), lit(8L)).as("s"))
      .distinct().count()
    assert(spread === 8L, s"hot rows spread over $spread of 8 salts")
    // below the threshold nothing salts — the plain plan survives for
    // ordinary corpora (no crossJoin replication in the plan)
    val coldOnly = Dedup.saltedBandSelfJoin(buckets, 1000L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(coldOnly === plain)
  }

  test("near-dup pairs have closer simhashes than random pairs") {
    val sims = Dedup.simhashSignatures(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dupPairs = Dedup.ngramJaccardPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupDist = dupPairs.map { case (a, b) => hamming(sims(a), sims(b)) }
    val ids = sims.keys.toArray.sorted
    val randDist = ids.take(40).flatMap(a => ids.slice(100, 140).map(b => hamming(sims(a), sims(b))))
    val avgDup = dupDist.sum.toDouble / dupDist.length
    val avgRand = randDist.sum.toDouble / randDist.length
    assert(avgDup < avgRand / 2,
      s"simhash not discriminating: dup avg $avgDup vs random avg $avgRand")
  }

  test("multi-band simhash pairs equal brute-force all-pairs (full recall)") {
    val banded = Dedup.simhashPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simhashSignatures(spark, sfDir)
    val brute = sigs.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"))
      .crossJoin(sigs.select(col("doc_id").as("b_id"), col("simhash").as("b_sig")))
      .filter(col("a_id") < col("b_id"))
      .filter(bit_count(col("a_sig").bitwiseXOR(col("b_sig"))) <= Dedup.SimHashMaxHamming)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain pairs within the hamming radius")
    // pigeonhole guarantee: radius r, r+1 disjoint bands → no pair lost
    assert(banded === brute,
      s"missed: ${brute.diff(banded)}, spurious: ${banded.diff(brute)}")
  }

  test("df-capped jaccard candidates lose no >=0.8 pair (vs uncapped join)") {
    // uncapped single-phase reference, built inline over the same fixtures
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("gram"))
    val counts = docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val uncapped = docs.select(col("doc_id").as("a_id"), col("gram"))
      .join(docs.select(col("doc_id").as("b_id"), col("gram")), Seq("gram"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
      .join(counts.select(col("doc_id").as("a_id"), col("n").as("a_n")), Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n").as("b_n")), Seq("b_id"))
      .filter(col("n_common") / (col("a_n") + col("b_n") - col("n_common")) >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty, "fixture should contain planted near-dups")
    assert(capped === uncapped,
      s"missed: ${uncapped.diff(capped)}, spurious: ${capped.diff(uncapped)}")
  }

  test("df cut: the grouped posting lists return the rows of the groupBy + broadcast left_anti form") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def antiForm(postings: org.apache.spark.sql.DataFrame, cap: Long) = {
      val hot = postings.groupBy(col("gram_h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select(col("gram_h"))
      postings.join(broadcast(hot), Seq("gram_h"), "left_anti")
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "gram_h").as[(Long, Long)].collect().toSeq.sorted
    def cut(postings: org.apache.spark.sql.DataFrame, cap: Long) =
      Dedup.postingLists(postings, "gram_h", "doc_id", cap)
        .select(explode(col("ids")).as("doc_id"), col("gram_h"))
    def same(postings: Seq[(Long, Long)], cap: Long): Boolean = {
      val df = postings.toDF("doc_id", "gram_h")
      val got = rows(cut(df, cap))
      val want = rows(antiForm(df, cap))
      if (got != want) println(s"df cut mismatch at cap $cap on $postings: $got vs $want")
      got == want
    }
    // planted: df = cap and df = cap + 1 side by side, one gram shared
    // by many docs, and an empty posting list
    val cap = 3L
    val atCap = (0L until cap).map(d => (d, 10L))
    val overCap = (0L to cap).map(d => (d, 11L))
    val shared = (0L until 40L).map(d => (d, 12L))
    val planted = atCap ++ overCap ++ shared ++ Seq((7L, 13L))
    assert(rows(cut(planted.toDF("doc_id", "gram_h"), cap)) ===
      (atCap ++ Seq((7L, 13L))).sorted)
    assert(same(planted, cap))
    assert(same(Seq.empty, cap))
    assert(cut(Seq.empty[(Long, Long)].toDF("doc_id", "gram_h"), cap).count() === 0L)
    // generated: small gram and doc pools, so dfs land on both sides of
    // the cap
    val posting = Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 7L))
    val prop = Prop.forAll(Gen.zip(Gen.listOf(posting), Gen.choose(1L, 6L))) {
      case (postings, c) => same(postings, c)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("derived df cap: floor at fixture scale, corpus fraction past it") {
    // at fixture sizes the corpus-derived cap equals the old constant
    // (50), so round-5 oracle behavior is unchanged by construction
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(Dedup.derivedDfCap(nDocs) === Dedup.DfCapFloor,
      s"fixture |docs|=$nDocs should sit at the cap floor")
    // past the floor the cap tracks the 1% doc-frequency fraction...
    assert(Dedup.derivedDfCap(Dedup.DfCapPerDocs * Dedup.DfCapFloor + 1)
      === Dedup.DfCapFloor + 1) // ceil, not floor division
    // ...up to the absolute ceiling: posting-group pair fanout is df²,
    // so "hot" may not scale with N forever (the round-10 10×-probe
    // finding — a proportional-only cap admitted (N/100)²-pair groups
    // under multi-source growth)
    assert(Dedup.derivedDfCap(Dedup.DfCapPerDocs * Dedup.DfCapCeil)
      === Dedup.DfCapCeil)
    assert(Dedup.derivedDfCap(100 * Dedup.DfCapPerDocs * Dedup.DfCapCeil)
      === Dedup.DfCapCeil)
    // fixture scales sit at the floor, so the ceiling changes no gate
    // answer (N ≤ 5000 ⇒ cap = 50 with or without the ceiling)
    assert(Dedup.derivedDfCap(5000) === Dedup.DfCapFloor)
    // the per-corpus derivation lands the same number the mirror computes
    assert(Dedup.dfCapFor(Tables.documents(spark, sfDir))
      === Dedup.derivedDfCap(nDocs))
    // the metadata path (parquet footers, no Spark job) is exact: same
    // row count, same cap as the frame-count derivation
    assert(Tables.parquetRowCount(spark, sfDir, "documents") === nDocs)
    assert(Dedup.dfCapForTable(spark, sfDir)
      === Dedup.dfCapFor(Tables.documents(spark, sfDir)))
  }

  test("exact dedup histogram accounts for every document") {
    val hist = Dedup.exactDedup(spark, sfDir).collect()
    val totalDocs = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(totalDocs === Tables.documents(spark, sfDir).count())
  }

  test("dedup clusters equal a driver-side union-find over the same pairs") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // classic union-find with path compression, independent of the
    // label-propagation rounds the operator runs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === expected.keySet)
    // same canonical (min-id) cluster per member
    expected.foreach { case (doc, root) =>
      assert(got(doc)._1 === root, s"doc $doc cluster")
    }
    // sizes consistent with the partition
    val sizeByRoot = expected.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (doc, (cid, n)) => assert(n === sizeByRoot(cid), s"doc $doc size") }
    // at least one non-trivial cluster, or the test proves little
    assert(got.values.exists(_._2 >= 2), "no multi-doc cluster in fixture")
  }

  test("star-contraction components equal label propagation on the fixture") {
    val viaProp = operators.Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val viaStar = operators.Dedup.dedupClustersStar(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(viaStar === viaProp)
  }

  test("deep chain: propagation trips its round cap, star contraction converges") {
    import spark.implicits._
    // a 64-node path has min-label eccentricity 63: plain propagation
    // needs 63 rounds (require fires at 20); star contraction is the
    // O(log n) fix the d7 scaladoc names — it must finish well under it
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ex = intercept[IllegalArgumentException] {
      operators.Graph.connectedComponents(chain).count()
    }
    assert(ex.getMessage.contains("did not converge"))
    val labels = operators.Dedup.connectedComponentsStar(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 64)
    assert(labels.forall(_._2 === 0L), "every chain node must label to the min")
  }

  test("incremental dedup statuses equal a brute-force classification") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val landed = docs.filter(_._1 % 4 != 0)
    val batch = docs.filter(_._1 % 4 == 0) ++
      docs.filter(d => d._1 % 4 != 0 && d._1 % 7 == 1).map(d => (d._1 + 100000L, d._2)) ++
      docs.filter(d => d._1 % 4 == 0 && d._1 % 10 == 2).map(d => (d._1 + 200000L, d._2))
    val landedDigests = landed.map(d => md5hex(d._2)).toSet
    val firstId = batch.map(d => (md5hex(d._2), d._1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).min).toMap
    val expected = batch.map { case (id, text) =>
      val dg = md5hex(text)
      id -> (if (landedDigests(dg)) "dup_of_landed"
             else if (id != firstId(dg)) "dup_in_batch"
             else "new")
    }.toMap
    val got = operators.Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === batch.length, "one status per batch doc")
    assert(got === expected)
    // the fixture must exercise all three statuses
    Seq("new", "dup_of_landed", "dup_in_batch").foreach { s =>
      assert(got.values.exists(_ == s), s"no '$s' doc in fixture")
    }
  }

  test("incremental dedup plans a bloom probe and broadcast-only joins") {
    val p = operators.Dedup.incrementalDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no bloom probe in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-shuffling join crept into the incremental path:\n$p")
  }

  test("digest index: one-pass build counts exactly, merge equals whole-corpus rebuild") {
    import operators.Dedup
    val digests = Tables.documents(spark, sfDir)
      .select(md5(col("text")).as("digest"))
    val full = Dedup.digestIndexOf(digests)
    assert(full.nLanded === digests.count(),
      "the one-pass aggregate must land the exact cardinality")
    assert(full.bloom != null)
    // same sizing ⇒ same hash family ⇒ OR-ing two partial indexes is
    // bit-identical to folding the union in one pass — the property the
    // streaming sink's incremental maintenance rests on
    val a = Dedup.digestIndexOf(digests.filter(col("digest") < "8"))
    val b = Dedup.digestIndexOf(digests.filter(col("digest") >= "8"))
    val merged = Dedup.mergeIndexes(a, b)
    assert(merged.nLanded === full.nLanded)
    assert(java.util.Arrays.equals(merged.bloom, full.bloom),
      "merged partial blooms must equal the one-pass whole-corpus bloom")
    // empty corpus: null bloom, and merging it is the identity
    val empty = Dedup.digestIndexOf(digests.filter(lit(false)))
    assert(empty.nLanded === 0L && empty.bloom == null)
    val viaEmpty = Dedup.mergeIndexes(empty, full)
    assert(viaEmpty.nLanded === full.nLanded &&
      java.util.Arrays.equals(viaEmpty.bloom, full.bloom))
    // sizing is a lineage contract — mixed sizings must fail loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.mergeIndexes(full, Dedup.digestIndexOf(digests, full.expectedItems * 2))
    }
    assert(ex.getMessage.contains("sized differently"))
  }

  test("semantic dedup (d9) matches a driver-side assign/compare/drop mirror") {
    import graft.operators.Similarity
    // embeddings from the (separately spec'd) StubEmbed expression;
    // assignment, pair scan, threshold, and rollup re-derived on the
    // driver with the same left-to-right double arithmetic
    val e = Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.StubEmbed(col("text")).as("emb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) 0.0 else d / den
    }
    val cents = e.filter(_._1 < Similarity.IvfCentroids)
    // argmax cosine, ties to the LOWER cent_id (the plan's tie-break)
    val cellOf = e.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos(v, cv), -cid) }.max._2 * -1
    }.toMap
    val dropSet = (for {
      (ai, av) <- e.iterator
      (bi, bv) <- e.iterator
      if ai < bi && cellOf(ai) == cellOf(bi) && cos(av, bv) >= Dedup.SemanticTau
    } yield (cellOf(bi), bi)).toSet
    assert(dropSet.nonEmpty, "fixture must exercise the drop path")
    val expected = e.groupBy { case (id, _) => cellOf(id) }.map { case (cell, members) =>
      val dropped = dropSet.filter(_._1 == cell).map(_._2)
      cell -> (members.length.toLong, (members.length - dropped.size).toLong,
        dropped.size.toLong, dropped.sum)
    }
    val got = Dedup.semanticDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === expected)
  }

  test("trained semantic dedup (d9b): driver mirror over the landed artifact + d9 parity") {
    import spark.implicits._
    // 12 disjoint-vocab groups (near-orthogonal StubEmbed vectors, far
    // below τ across groups) with planted EXACT copies inside three of
    // them. Identical texts embed identically and the argmax assignment
    // is a deterministic per-row function, so copies co-assign under
    // ANY centroid table — which is what makes the drop set invariant
    // between d9's first-8 cells and d9b's trained cells.
    var nextId = 0L
    val rows = Seq.newBuilder[(Long, String)]
    val copiesOf = Map(0 -> 3, 3 -> 2, 7 -> 2) // group -> total copies
    val droppedExpected = Seq.newBuilder[Long]
    (0 until 12).foreach { g =>
      val text = (0 until 6).map(t => s"w${g}_$t").mkString(" ")
      val n = copiesOf.getOrElse(g, 1)
      val ids = (0 until n).map { _ => val id = nextId; nextId += 1; id }
      ids.foreach(id => rows += ((id, text)))
      droppedExpected ++= ids.drop(1) // keep the min id per group
    }
    val docs = rows.result().toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_d9b").toString + "/cells"
    Dedup.materializeSemCellsOf(docs, nextId, p)
    val got = Dedup.semanticDedupOverCells(spark, p, Dedup.SemanticTau).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

    // driver mirror: read the artifact's OWN centroids, re-derive
    // assignment / pair scan / rollup with the same double arithmetic
    // (the d9 spec's discipline lifted to the trained tier)
    val e = docs.select(col("doc_id"), graft.functions.StubEmbed(col("text")).as("emb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) 0.0 else d / den
    }
    val cents = spark.read.parquet(s"$p/_centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cellOf = e.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos(v, cv), -cid) }.max._2 * -1
    }.toMap
    val dropSet = (for {
      (ai, av) <- e.iterator
      (bi, bv) <- e.iterator
      if ai < bi && cellOf(ai) == cellOf(bi) && cos(av, bv) >= Dedup.SemanticTau
    } yield (cellOf(bi), bi)).toSet
    val expected = e.groupBy { case (id, _) => cellOf(id) }.map { case (cell, members) =>
      val dropped = dropSet.filter(_._1 == cell).map(_._2)
      cell -> (members.length.toLong, (members.length - dropped.size).toLong,
        dropped.size.toLong, dropped.sum)
    }
    assert(got === expected)

    // planted truth: exactly the non-min copies drop, nothing else
    val expectDropped = droppedExpected.result()
    assert(dropSet.map(_._2) === expectDropped.toSet)

    // d9 parity on the same fixture: the fixed-8-cell form reaches the
    // same global drop decisions (copies co-assign under any centroids;
    // cross-group cosines sit far below τ)
    def totals(rs: Array[(Long, (Long, Long, Long, Long))]) =
      (rs.map(_._2._1).sum, rs.map(_._2._3).sum, rs.map(_._2._4).sum)
    val d9 = Dedup.semanticDedupOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(totals(d9) === ((nextId, expectDropped.size.toLong, expectDropped.sum)))
    assert(totals(got.toArray) === totals(d9))
  }

  test("ArgMaxCosine: smallest-id tie-break and float/double parity with the window form") {
    import spark.implicits._
    // two IDENTICAL centroids under different ids: the strict-greater
    // scan must keep the first (smallest id) — the oracle's
    // ROW_NUMBER ... ORDER BY cos DESC, cent_id ASC
    val embs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("doc_id", "emb")
    val cents = Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.1, 0.9))
    val ids = Array(7L, 3L, 5L)
    val got = embs.select(col("doc_id"),
        graft.functions.ArgMaxCosine(col("emb"), ids, cents).as("cent_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 5L))
  }

  test("duplicate spans (d10) on planted docs: cross-doc, within-doc, island merge") {
    import spark.implicits._
    // k=3 keeps the plants readable; the arithmetic is width-generic
    val planted = Seq(
      (1L, "q1 q2 s1 s2 s3 s4 s5 q3"),     // shares s1..s5 with doc 2
      (2L, "s1 s2 s3 s4 s5 r1 r2 r3"),
      (3L, "x y z u1 u2 u3 u4 x y z"),     // self-repeat, two islands
      (4L, "n1 n2 n3 n4 n5"),              // unique → no row
      (5L, "a b"))                         // shorter than k → no grams, no crash
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpansOf(planted, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // docs 1/2: hits at three consecutive positions merge into ONE
    // 5-token span (the shared sentence, maximal, not three 3-grams)
    assert(got(1L) === ((8L, 1L, 5L, 625000L)))
    assert(got(2L) === ((8L, 1L, 5L, 625000L)))
    // doc 3: "x y z" at pos 0 and 7 — gap 7 > k → TWO spans of 3
    assert(got(3L) === ((10L, 2L, 6L, 600000L)))
    assert(got.keySet === Set(1L, 2L, 3L), "unique and short docs emit no row")
  }

  test("duplicate spans (d10) match a driver-side suffix-scan mirror on the fixture") {
    val k = Dedup.SpanGram
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty))
    // mirror counts gram STRINGS, not hashes — agreement also proves the
    // 60-bit md5 hashing introduced no collision on this corpus
    val grams = docs.flatMap { case (id, w) =>
      if (w.length >= k) (0 to w.length - k).map(i => (id, i, w.slice(i, i + k).mkString(" ")))
      else Nil
    }
    val counts = grams.groupBy(_._3).map { case (g, o) => g -> o.size }
    val expected = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).map { case (id, hs) =>
        val pos = hs.map(_._2).sorted
        // island merge: a hit extends the open span iff gap <= k
        val spans = pos.tail.foldLeft(List((pos.head, pos.head))) {
          case ((s, last) :: rest, p) =>
            if (p - last <= k) (s, p) :: rest else (p, p) :: (s, last) :: rest
          case (Nil, p) => List((p, p))
        }
        val dupTokens = spans.map { case (s, e) => e + k - s }.sum.toLong
        val nTokens = docs.find(_._1 == id).get._2.length.toLong
        id -> (nTokens, spans.size.toLong, dupTokens,
          math.floor(dupTokens * 1000000.0 / nTokens).toLong)
      }
    assert(expected.nonEmpty, "fixture must contain duplicated spans")
    val got = Dedup.duplicateSpans(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === expected)
  }

  test("span scrub (d10b) on planted docs: exact cleaned text, symmetric excision") {
    import spark.implicits._
    // the d10 planted corpus — excision must remove s1..s5 from BOTH
    // carriers, both x-y-z islands from doc 3, and touch nothing else
    val planted = Seq(
      (1L, "q1 q2 s1 s2 s3 s4 s5 q3"),
      (2L, "s1 s2 s3 s4 s5 r1 r2 r3"),
      (3L, "x y z u1 u2 u3 u4 x y z"),
      (4L, "n1 n2 n3 n4 n5"),
      (5L, "a b"))
      .toDF("doc_id", "text")
    val got = Dedup.spanScrubOf(planted, k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) === ((8L, 5L, "q1 q2 q3")))
    assert(got(2L) === ((8L, 5L, "r1 r2 r3")))
    assert(got(3L) === ((10L, 6L, "u1 u2 u3 u4")))
    assert(got(4L) === ((5L, 0L, "n1 n2 n3 n4 n5")), "unique doc untouched")
    assert(got(5L) === ((2L, 0L, "a b")), "short doc untouched")
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L), "every doc emits a row")
    // composition: re-running detection on the scrubbed planted corpus
    // finds nothing left (no seam gram re-duplicates here)
    val rescored = Dedup.duplicateSpansOf(
      Dedup.spanScrubOf(planted, k = 3)
        .select(col("doc_id"), col("clean_text").as("text")), k = 3)
    assert(rescored.count() === 0, "scrub left duplicated spans behind")
  }

  test("d11 source overlap: exact anchors, inclusion-exclusion verdicts, zero-overlap pairs") {
    import spark.implicits._
    // A and B share their entire 2-gram vocabulary; C shares nothing.
    // sourceOverlapOf must anchor the exact intersections (2, 0, 0),
    // emit a row for EVERY pair including zero-overlap ones, and the
    // sketch verdict must hold at these (sparse-exact) cardinalities.
    val docs = Seq(
      (1L, "w1 w2 w3 w4", "srcA"),
      (2L, "w1 w2 w3 w4", "srcB"),
      (3L, "q1 q2 q3 q4 q5", "srcC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got.keySet === Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    assert(got(("srcA", "srcB")) === ((2L, 2L, 2L, true)))
    assert(got(("srcA", "srcC")) === ((2L, 3L, 0L, true)))
    assert(got(("srcB", "srcC")) === ((2L, 3L, 0L, true)))
  }

  test("d11 fixture verdicts all pass: every pair's estimate within the bound") {
    val rows = Dedup.sourceOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(5)),
      "an inclusion-exclusion estimate fell outside 5% of (n_a + n_b)")
  }

  test("span scrub (d10b) accounting matches d10 on the fixture corpus") {
    // n_removed must equal d10's dup_tokens for every doc d10 reports,
    // and be 0 for every other doc — same islands, two consumers
    val report = Dedup.duplicateSpans(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val scrub = Dedup.spanScrub(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(scrub.nonEmpty)
    scrub.foreach { case (id, nTok, nRem, text) =>
      assert(nRem === report.getOrElse(id, 0L), s"doc $id removal mismatch")
      // the cleaned text really has n_tokens - n_removed tokens
      val kept = text.trim.split("\\s+").filter(_.nonEmpty).length.toLong
      assert(kept === nTok - nRem, s"doc $id token accounting broken")
    }
  }
}
