package graft

import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private def walkFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walkFiles) else Seq(f)

  // deleteOnExit only removes EMPTY dirs — recursive delete or the
  // temp index trees leak a parquet forest per suite run
  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(); ()
  }

  test("cosine of identical vectors is 1, orthogonal is 0, zero-vector guarded") {
    val df = spark.createDataFrame(Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))))
      .toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("sim"))
    val sims = df.collect().map(_.getDouble(0))
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    assert(sims(2) === 0.0)
  }

  test("VecDot: null array → null; null ELEMENTS read as 0.0 (documented dense-vector semantics)") {
    import graft.functions.VecDot
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.createDataFrame(Seq(
      (Array[java.lang.Double](null, 2.0), Array[java.lang.Double](3.0, 4.0))))
      .toDF("a", "b")
      .selectExpr("cast(a as array<double>) a", "cast(b as array<double>) b")
    val row = df.select(
      VecDot(col("a"), col("b")).as("d"),
      VecDot(expr("CAST(NULL AS ARRAY<DOUBLE>)"), col("b")).as("n")).collect()(0)
    assert(row.getDouble(0) === 8.0, "null element must read as 0.0 (dense-vector contract)")
    assert(row.isNullAt(1), "null array must yield null")
  }

  test("converged Lloyd reaches the driver-side fixpoint bit-exactly") {
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val k = Similarity.IvfCentroids
    val dim = e.head._2.length
    // mirror of the operator's arithmetic: ppm-domain centroids, cosine
    // argmax with smallest-cent_id tie-break, exact long sums, one
    // double division, empty cells keep the old centroid
    def cosine(a: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nc = 0.0; var j = 0
      while (j < dim) {
        dot += a(j).toDouble * c(j)
        na += a(j).toDouble * a(j).toDouble
        nc += c(j) * c(j)
        j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nc)
      if (denom == 0) 0.0 else dot / denom
    }
    var cents = e.filter(_._1 < k).map(_._2.map(v => math.floor(v.toDouble * 1000000.0)))
    var counts = Array.fill(k)(0L)
    var moved = Double.MaxValue
    var iters = 0
    while (moved > 0.0 && iters < 20) {
      val sums = Array.fill(k, dim)(0L)
      val cnt = Array.fill(k)(0L)
      e.foreach { case (_, emb) =>
        var best = 0; var bestSim = Double.NegativeInfinity
        for (c <- 0 until k) {
          val sim = cosine(emb, cents(c))
          if (sim > bestSim) { bestSim = sim; best = c }
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) {
          sums(best)(j) += math.floor(emb(j).toDouble * 1000000.0).toLong; j += 1
        }
      }
      val next = Array.tabulate(k) { c =>
        if (cnt(c) == 0) cents(c)
        else Array.tabulate(dim)(j => sums(c)(j).toDouble / cnt(c))
      }
      moved = (0 until k).iterator.flatMap(c =>
        (0 until dim).iterator.map(j => math.abs(next(c)(j) - cents(c)(j)))).max
      cents = next
      counts = cnt
      iters += 1
    }
    assert(moved === 0.0, s"driver-side Lloyd did not converge in 20 rounds")

    val (df, sparkIters) = Similarity.kmeansConvergedOf(
      Tables.embeddings(spark, sfDir), maxIters = 20, epsPpm = 0.0)
    assert(sparkIters === iters, "round counts diverged")
    val got = df.collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got.size === k * dim)
    for (c <- 0 until k; j <- 0 until dim) {
      val (ppm, n) = got((c, j))
      assert(ppm === cents(c)(j), s"centroid $c dim $j: $ppm != ${cents(c)(j)}")
      assert(n === counts(c), s"centroid $c member count")
    }
  }

  test("int8 quantization: bounded error, exact integer scores, strong recall vs the exact tier") {
    import graft.functions.{QuantizeVec, VecDotInt}
    import graft.operators.Similarity
    // roundtrip error bound: the dequantized vector (q/127) stays
    // within a cosine hair of the original — floor discretization at
    // 127 levels costs < 1% of direction on real embeddings
    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), QuantizeVec(col("embedding")).as("q"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val q = r.getSeq[Byte](2).map(_.toDouble / 127.0)
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(q.map(x => x * x).sum))
      assert(cos >= 0.99, s"vec ${r.getLong(0)} lost direction: cos=$cos")
      assert(r.getSeq[Byte](2).forall(b => b >= -127 && b <= 127))
    }
    // the integer score the operator ranks by is EXACTLY the driver's
    // integer arithmetic over the same bytes
    val q0 = rows.find(_.getLong(0) == 0L).get.getSeq[Byte](2)
    val viaExpr = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), QuantizeVec(col("embedding")).as("q"))
      .withColumn("s", VecDotInt(col("q"),
        // lit over Array[Byte] would make a BinaryType literal — go
        // through array<int> and cast the elements down
        lit(q0.map(_.toInt).toArray).cast("array<tinyint>")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val expected = r.getSeq[Byte](2).zip(q0).map { case (a, b) => a.toLong * b.toLong }.sum
      assert(viaExpr(r.getLong(0)) === expected)
    }
    // recall: the quantized top-10 recovers nearly all of the exact
    // cosine top-10 (identical direction proxy, 127-level grid)
    val exact = Similarity.cosineTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(exact.intersect(quant).size >= 8,
      s"quantized recall too low: ${exact.intersect(quant).size}/10")
  }

  test("batch top-k equals a per-query driver-side brute force") {
    import graft.operators.Similarity
    val nQ = 8
    val k = 3
    val all = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val d = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (d == 0) 0.0 else dot / d
    }
    val corpus = all.filter(_._1 >= nQ)
    val expected = all.filter(_._1 < nQ).flatMap { case (qid, qe) =>
      corpus.map { case (vid, ve) => (qid, vid, cos(ve, qe)) }
        .sortBy { case (_, vid, s) => (-s, vid) }
        .take(k).zipWithIndex
        .map { case ((_, vid, _), i) => (qid, i + 1, vid) }
    }.toSet
    val got = Similarity.batchTopK(spark, sfDir, nQ, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("brute-force top-k is sorted desc and k-sized") {
    val rows = Similarity.cosineTopK(spark, sfDir, queryId = 0L, k = 10).collect()
    assert(rows.length === 10)
    val sims = rows.map(r => r.getDouble(r.fieldIndex("sim_r")))
    assert(sims.toSeq === sims.sorted.reverse.toSeq)
    assert(!rows.map(_.getLong(0)).contains(0L), "query vector must be excluded")
  }

  test("LSH top-k results agree with brute-force scores and have useful recall") {
    val brute = Similarity.cosineTopK(spark, sfDir, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
    val lsh = Similarity.lshTopK(spark, sfDir, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
    assert(lsh.nonEmpty)
    // any overlap must carry the identical (exact) similarity
    lsh.keySet.intersect(brute.keySet).foreach { id =>
      assert(lsh(id) === brute(id), s"sim mismatch for $id")
    }
    val recall = lsh.keySet.intersect(brute.keySet).size / 10.0
    // ~1/16 of the corpus per bucket at 4 planes: top neighbors cluster on
    // the query side of the hyperplanes, so recall well above random
    assert(recall >= 0.2, s"LSH recall@10 = $recall")
  }

  test("stub embedder is deterministic, unit-norm, bag-of-words") {
    import graft.functions.StubEmbed
    val df = spark.createDataFrame(Seq(
      Tuple1("spark query engine"), Tuple1("spark query engine"),
      Tuple1("engine query spark"), Tuple1("completely different words here")))
      .toDF("text")
      .select(StubEmbed(col("text")).as("e"))
    val vecs = df.collect().map(_.getSeq[Float](0).toArray)
    assert(vecs(0).toSeq === vecs(1).toSeq, "not deterministic")
    assert(vecs(0).toSeq === vecs(2).toSeq, "not order-invariant (bag of words)")
    val norm = math.sqrt(vecs(0).map(v => v.toDouble * v).sum)
    assert(math.abs(norm - 1.0) < 1e-5, s"not unit norm: $norm")
    val dot03 = vecs(0).zip(vecs(3)).map { case (a, b) => a.toDouble * b }.sum
    assert(math.abs(dot03) < 0.5, s"unrelated texts too similar: $dot03")
  }

  test("stub embedder tokenizes by the oracle's whitespace class (no U+000B)") {
    import graft.functions.StubEmbed
    // RE2 \s (the DuckDB oracle's regexp_split_to_array class) excludes
    // U+000B, so 'ab' is ONE token — it must NOT embed like 'a b'
    // (Java \s+ would split it; the r7 fix pins the explicit class)
    val df = spark.createDataFrame(Seq(
      Tuple1("ab"), Tuple1("a b"), Tuple1("a\tb")))
      .toDF("text").select(StubEmbed(col("text")).as("e"))
    val vecs = df.collect().map(_.getSeq[Float](0).toArray)
    assert(vecs(0).toSeq !== vecs(1).toSeq,
      "U+000B acted as a token separator — Java \\s leaked back in")
    assert(vecs(1).toSeq === vecs(2).toSeq, "tab must split like space")
  }

  test("semantic search retrieves docs sharing the query vocabulary") {
    val rows = Similarity.semanticSearch(spark, sfDir,
      query = "customer order filter join", k = 10).collect()
    assert(rows.length === 10)
    val sims = rows.map(r => r.getDouble(r.fieldIndex("sim_r")))
    assert(sims.toSeq === sims.sorted.reverse.toSeq)
    assert(sims.head > 0.3, s"top hit weak: ${sims.head}")
    // every top hit should actually contain at least one query token
    val qToks = Set("customer", "order", "filter", "join")
    rows.take(3).foreach { r =>
      val preview = r.getAs[String]("preview").toLowerCase
      assert(qToks.exists(preview.contains), s"top hit shares no vocab: $preview")
    }
  }

  test("ANN tiers agree at the reference's 1536-dim embedding width") {
    // The fixtures carry 64-dim vectors; the reference embeds at 1536
    // (hydrate_vectors.py:98-106). Codegen/boxing issues only visible at
    // real width are exercised by running all three tiers over a
    // 1536-dim corpus embedded from `documents`.
    import graft.functions.StubEmbed
    val dim = 1536
    val sf01 = sfDir01
    // query a doc with a PLANTED near-dup (first exact-jaccard pair):
    // its dup has cosine ≈ 1 at any width, so every tier must retrieve
    // it — at 1536-dim unrelated vectors are near-orthogonal and a
    // random query's top-10 scatters across LSH buckets by design.
    val pair = operators.Dedup.ngramJaccardPairs(spark, sf01)
      .select("a_id", "b_id").head()
    val (qid, dupId) = (pair.getLong(0), pair.getLong(1))
    val e = Tables.documents(spark, sf01)
      .select(col("doc_id").as("vec_id"), col("lang").as("label"),
        StubEmbed(col("text"), dim).as("embedding"))
      .persist()
    try {
      val brute = Similarity.cosineTopKOf(e, qid, 10).collect()
      assert(brute.length === 10)
      val sims = brute.map(r => r.getDouble(r.fieldIndex("sim_r")))
      assert(sims.toSeq === sims.sorted.reverse.toSeq)
      val bruteMap = brute.map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
      assert(bruteMap.contains(dupId) && bruteMap(dupId) > 0.9,
        s"planted near-dup $dupId not a strong brute-force hit: $bruteMap")
      val lsh = Similarity.lshTopKOf(e, dim, qid, 10).collect()
        .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
      val ivf = Similarity.ivfTopKOf(e, qid, 10).collect()
        .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
      for ((m, nm) <- Seq((lsh, "lsh"), (ivf, "ivf"))) {
        assert(m.contains(dupId), s"$nm@10 missed the near-dup at dim=$dim: $m")
        // any id a tier shares with brute force must carry the identical
        // exact similarity — the approximate part is WHICH ids, never
        // the scores
        m.keySet.intersect(bruteMap.keySet).foreach { id =>
          assert(m(id) === bruteMap(id), s"$nm sim mismatch for $id at dim=$dim")
        }
      }
      // the quantized tier must keep the planted near-dup at real width
      // too — floor discretization at 127 levels cannot lose a ≈1.0
      // cosine neighbor
      val quant = Similarity.quantizedTopKOver(
        e.select(col("vec_id"), col("label"),
            graft.functions.QuantizeVec(col("embedding")).as("q"))
          .filter(col("q").isNotNull), qid, 10)
        .collect().map(_.getLong(0)).toSet
      assert(quant.contains(dupId), s"quantized@10 missed the near-dup at dim=$dim")
    } finally e.unpersist()
  }

  test("bucketed near-dup pairs carry exact sims and are a subset of within-label pairs") {
    val full = Similarity.nearDupTopPairs(spark, sfDir, k = 500).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(r.fieldIndex("sim_r"))).toMap
    val bucketed = Similarity.nearDupTopPairsBucketed(spark, sfDir, k = 20).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(r.fieldIndex("sim_r")))
    assert(bucketed.nonEmpty)
    bucketed.foreach { case (pair, sim) =>
      // sub-bucketing restricts WHICH pairs are compared, never the score
      assert(full.get(pair).contains(sim), s"pair $pair sim mismatch vs unbucketed")
    }
    // near-identical vectors agree on every hyperplane sign, so the very
    // top of the unbucketed ranking survives sub-bucketing
    val topPair = Similarity.nearDupTopPairs(spark, sfDir, k = 1).collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(bucketed.map(_._1).contains(topPair),
      "top near-dup pair lost by sub-bucketing")
  }

  test("quantized-prefilter near-dup (v2c) equals the exact tier, and the guard is loud") {
    import org.apache.spark.sql.functions._
    val exact = Similarity.nearDupTopPairs(spark, sfDir01)
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val quant = Similarity.nearDupTopPairsQuantized(spark, sfDir01)
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(quant === exact, "prefiltered top-k diverged from the exact tier")
    // an admission bar above the kth-best similarity must either fail
    // LOUDLY (enough candidates for a full page, bar not met) or fall
    // back to the exact tier (short page) — NEVER silently under-report
    for (tau <- Seq(0.4, 0.99)) {
      try {
        val r = Similarity.nearDupTopPairsQuantized(spark, sfDir01, tau0 = tau)
          .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        assert(r === exact, s"tau0=$tau returned without exactness")
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("admission bar"))
      }
    }
    // the stored-correction bound must actually prune: count surviving
    // candidate pairs vs all within-label pairs
    val emb = Tables.embeddings(spark, sfDir01)
      .select(col("vec_id"), col("label"),
        graft.functions.QuantizeVec(col("embedding")).as("q"))
      .withColumn("pos", aggregate(col("q"), lit(0L),
        (acc, x) => acc + greatest(x.cast("long"), lit(0L))))
    val a = emb.select(col("vec_id").as("a_id"), col("label"), col("q").as("qa"), col("pos").as("pos_a"))
    val b = emb.select(col("vec_id").as("b_id"), col("label"), col("q").as("qb"), col("pos").as("pos_b"))
    val allPairs = a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
    val total = allPairs.count()
    val kept = allPairs.filter(graft.functions.VecDotInt(col("qa"), col("qb"))
      + col("pos_a") + col("pos_b") + lit(64L)
      >= math.ceil(127.0 * 127.0 * Similarity.QuantPrefilterTau).toLong).count()
    assert(kept < total / 2, s"prefilter kept $kept of $total pairs — bound too loose to pay for itself")
  }

  test("nprobe=2 repairs a Voronoi-boundary miss and stays partition-pruned (v9b)") {
    import spark.implicits._
    val dim = 64
    def unit(i: Int): Array[Float] = Array.tabulate(dim)(j => if (j == i) 1f else 0f)
    def planar(deg: Double): Array[Float] = Array.tabulate(dim)(j =>
      if (j == 0) math.cos(math.toRadians(deg)).toFloat
      else if (j == 1) math.sin(math.toRadians(deg)).toFloat else 0f)
    // centroids 0..7 = unit axes (8 clean Voronoi cells); the query
    // sits at 40° between axes 0 and 1 → assigned to cell 0, while its
    // TRUE nearest neighbor (60°, cos 20° ≈ 0.94 apart) lands in cell
    // 1 — the canonical boundary case nprobe=1 structurally misses
    val cents = (0 until 8).map(i => (i.toLong, i, unit(i)))
    val planted = Seq((100L, 0, planar(40)), (101L, 1, planar(60)))
    val filler = (0 until 8).map(i => (200L + i, i, unit(i)))
    val e = (cents ++ planted ++ filler).toDF("vec_id", "label", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_boundary").toString + "/idx"
    Similarity.materializeIvfOf(e, path)
    val np1 = Similarity.ivfTopKOverIndex(spark, path, queryId = 100L, k = 1, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    val np2 = Similarity.ivfTopKOverIndex(spark, path, queryId = 100L, k = 1, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(np1 !== Seq(101L),
      "boundary construction broken: nprobe=1 should miss the cross-cell neighbor")
    assert(np2 === Seq(101L),
      "nprobe=2 must recover the true neighbor from the second-ranked cell")
    // recall is monotone in nprobe (probing more cells only adds
    // candidates): at k=3 the nprobe=2 hit set contains nprobe=1's
    val n1k = Similarity.ivfTopKOverIndex(spark, path, 100L, 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    val n2k = Similarity.ivfTopKOverIndex(spark, path, 100L, 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // every nprobe=1 hit either survives or was displaced by a STRICTLY
    // better cross-cell candidate
    val floor = n2k.values.min
    n1k.foreach { id =>
      assert(n2k.contains(id) || Similarity
        .ivfTopKOverIndex(spark, path, 100L, 20, nprobe = 1)
        .collect().find(_.getLong(0) == id).get.getDouble(2) <= floor)
    }
    // the two-cell probe must still plan dynamic partition pruning —
    // two directories read, never an index scan
    val p = Similarity.ivfTopKOverIndex(spark, path, 100L, 1, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"nprobe=2 probe lost dynamic partition pruning:\n$p")
  }

  test("trained IVF index (v9c): converged centroids, self-consistent assignment, useful recall, pruned probe") {
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.ivfTrainedTopK2(spark, sfDir).collect()
    assert(out.length === 10)
    // recall vs exact at nprobe=2 (deterministic: Lloyd from a fixed
    // init on fixed data). On this near-uniform fixture trained cells
    // are about as balanced as first-8 cells, so the win is structural
    // (geometry-following cells), not visible in fixture recall —
    // PLANS.md records the honest comparison.
    val exact = Similarity.cosineTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val recall = out.map(_.getLong(0)).count(exact.contains)
    assert(recall >= 8, s"trained nprobe=2 recall $recall/10")
    val tag = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Tables.scratchDir.getOrElse(
      System.getProperty("java.io.tmpdir")) + s"/graft_ivf_trained_$tag"
    val cents = spark.read.parquet(s"$path/_centroids")
    assert(cents.count() === Similarity.IvfCentroids.toLong)
    // self-consistency: every indexed vector sits in its argmax cell
    // under the TRAINED centroids (the Lloyd fixpoint property the
    // layout must preserve)
    val idx = spark.read.parquet(path)
    val mismatches = idx.select(col("vec_id"), col("cent_id"), col("embedding"))
      .crossJoin(broadcast(cents.select(col("cent_id").as("c_id"), col("cent_emb"))))
      .withColumn("csim", Vectors.cosine(col("embedding"), col("cent_emb")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(desc("csim"), col("c_id"))))
      .filter(col("rn") === 1)
      .filter(col("cent_id") =!= col("c_id")).count()
    assert(mismatches === 0L, "every vector must sit in its argmax trained cell")
    val p = Similarity.ivfTopKOverIndex(spark, path, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"trained probe lost dynamic partition pruning:\n$p")
  }

  test("landed IVF index (v9): probe equals the in-plan tier and prunes to the query's cell") {
    val inPlan = Similarity.ivfTopK(spark, sfDir01)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val landed = Similarity.ivfLandedTopK(spark, sfDir01)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(landed === inPlan, "landed layout must change bytes read, never results")
    // the probe must plan a dynamic partition filter on cent_id — the
    // evidence that only the query's cell directory is scanned
    val tag = sfDir01.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Tables.scratchDir.getOrElse(
      System.getProperty("java.io.tmpdir")) + s"/graft_ivf_idx_$tag"
    val p = Similarity.ivfTopKOverIndex(spark, path)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cent_id:\n$p")
  }

  test("near-dup top pairs are within-label, deduped, sorted desc") {
    val rows = Similarity.nearDupTopPairs(spark, sfDir, k = 20).collect()
    assert(rows.length === 20)
    rows.foreach(r => assert(r.getLong(1) < r.getLong(2), "a_id < b_id expected"))
    val sims = rows.map(r => r.getDouble(r.fieldIndex("sim_r")))
    assert(sims.toSeq === sims.sorted.reverse.toSeq)
  }

  test("HashVector is bit-identical to the SQL md5-window derivation") {
    import org.apache.spark.sql.functions._
    // the column-tree formulation IS the oracle's SQL, expression for
    // expression — pinning HashVector to it guards the cross-engine
    // contract against drift in the fast path
    val hof = transform(sequence(lit(0), lit(63)), j =>
      conv(md5(concat(col("key"), lit(":"), (j / lit(4)).cast("int").cast("string")))
        .substr(lit(1) + lit(8) * pmod(j, lit(4)), lit(8)), 16, 10)
        .cast("double") / lit(4294967296.0) - lit(0.5))
    val rows = spark.range(5).select(col("id").cast("string").as("key"))
      .select(graft.functions.HashVector(col("key"), 64).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) === r.getSeq[Double](1),
        "HashVector diverged from the SQL derivation")
    }
  }

  test("kmeans step equals a driver-side Lloyd recomputation") {
    val got = Similarity.kmeansStep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val embs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val cents = embs.filter(_._1 < Similarity.IvfCentroids).sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // same argmax rule as the operator: max cosine, min cent_id on ties
    val assigned = embs.map { case (id, e) =>
      cents.map { case (cid, ce) => (cid, cos(e, ce)) }
        .maxBy { case (cid, s) => (s, -cid) }._1 -> e
    }
    val dims = embs.head._2.length
    val expected = assigned.groupBy(_._1).flatMap { case (cid, members) =>
      (0 until dims).map { d =>
        val ppms = members.map { case (_, e) => math.floor(e(d).toDouble * 1e6).toLong }
        (cid, d) -> (ppms.sum.toDouble / ppms.length, ppms.length.toLong)
      }
    }
    assert(got.size === expected.size)
    // exact equality: the operator's mean divides the same two exact
    // integers — any drift means the assignment or the floor diverged
    expected.foreach { case (k, v) => assert(got(k) === v, s"cell $k") }
  }

  test("PQ (v10): codes in range, every subspace discriminates, 8 bytes per vector") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir)
    val codes = Similarity.pqEncode(e, Similarity.pqCodebook(e)).collect()
    assert(codes.length === e.count())
    (0 until Similarity.PqSubspaces).foreach { m =>
      val cs = codes.map(_.getInt(2 + m))
      assert(cs.forall(c => c >= 0 && c < Similarity.PqCodebook),
        s"subspace $m code out of range")
      assert(cs.distinct.length > 1,
        s"subspace $m assigns one code to everything — not discriminating")
    }
  }

  test("PQ re-rank (v10b): exact order within the shortlist, recall above ADC alone") {
    import graft.operators.Similarity
    // exact inner-product ranking, driver-side
    val e = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val q = e.find(_._1 == 0L).get._2
    def ip(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * q(i); i += 1 }; s
    }
    val exactTop = e.filter(_._1 != 0L).sortBy { case (id, v) => (-ip(v), id) }
      .take(10).map(_._1).toSet
    val shortlist = Similarity.pqTopK(spark, sfDir, 0L, 50).collect()
      .map(_.getLong(0)).toSet
    val rer = Similarity.pqTopKReranked(spark, sfDir).collect().map(_.getLong(0))
    // structural: the re-rank IS the exact ranking restricted to the
    // ADC shortlist — quantization error can only cost recall via
    // shortlist membership, never via final ordering
    val expected = e.filter(p => shortlist.contains(p._1))
      .sortBy { case (id, v) => (-ip(v), id) }.take(10).map(_._1).toSeq
    assert(rer.toSeq === expected)
    // fixture-measured floors on WORST-CASE (near-uniform) embeddings:
    // ADC alone 7/10 here; the refine recovers strictly more
    val adcTop = Similarity.pqTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val adcRecall = adcTop.intersect(exactTop).size
    val rerRecall = rer.toSet.intersect(exactTop).size
    assert(rerRecall >= adcRecall, s"refine lost recall: $rerRecall < $adcRecall")
    assert(rerRecall >= 7, s"re-ranked recall@10 = $rerRecall/10")
  }

  test("filtered ANN (v11): pre-filter fills k, post-filter has the recall hole, filter is pushed") {
    val k = 10
    val pre = Similarity.ivfFilteredTopK(spark, sfDir01, maxLabel = 2, k = k)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(pre.length === k, s"pre-filter must fill k, got ${pre.length}")
    assert(pre.forall(_._2 <= 2), "a row escaped the predicate")
    // the classic hole: filtering AFTER a top-k shortlist keeps only
    // the qualifying fraction of k — strictly fewer than pre-filter
    val post = Similarity.ivfLandedTopK2(spark, sfDir01, k = k)
      .collect().map(r => (r.getLong(0), r.getInt(1))).filter(_._2 <= 2)
    assert(post.length < pre.length,
      s"fixture too uniform to show the hole: post=${post.length}, pre=${pre.length}")
    // every post-filter survivor is also a pre-filter hit (pre-filter
    // dominates: same candidates minus the discarded non-qualifiers)
    post.foreach(p => assert(pre.contains(p), s"post-filter hit $p missing from pre"))
    // the predicate reaches the index parquet scan as a pushed filter,
    // composing with the cell DPP prune
    val p = Similarity.ivfFilteredTopK(spark, sfDir01, maxLabel = 2, k = k)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.matches("(?s).*label.*2.*"),
      s"label predicate not pushed to the index scan:\n$p")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"filtered probe lost dynamic partition pruning:\n$p")
  }

  test("ivf reclaim (v9g): fragmented cells compact to one file, answers unchanged, deferred call is a no-op") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, expr, not}
    val e = Tables.embeddings(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_reclaim_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    val isDelta = Similarity.incrementalHoldout
    Similarity.materializeIvfOf(e.filter(not(isDelta)), path)
    // drip the holdout in many slivers — fragment files accumulate
    // inside cell dirs, the long-running-stream shape
    val slivers = Similarity.IvfReclaimFilesPerCell + 4
    (0 until slivers).foreach { i =>
      Similarity.ivfIndexAppend(spark, path,
        e.filter(isDelta && expr(s"(vec_id div 5) % $slivers") === i))
    }
    def cellFiles(): Map[String, Int] =
      new java.io.File(path).listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("cent_id=")).map { d =>
        d.getName -> d.listFiles().count(f =>
          f.isFile && f.getName.endsWith(".parquet"))
      }.toMap
    assert(cellFiles().values.max > Similarity.IvfReclaimFilesPerCell,
      "the drip must fragment at least one cell past the bound")
    val answersBefore = Similarity.ivfTopKOverIndex(spark, path, 0L, 10, 2)
      .collect().map(_.toString).toSeq
    // fire: fragmented cells rewrite to ONE file each
    val reclaimed = Similarity.ivfIndexMaintain(spark, path)
    assert(reclaimed.nonEmpty, "the reclaim must fire past the bound")
    assert(cellFiles().values.forall(_ == 1),
      s"cells not compacted to one file: ${cellFiles()}")
    assert(Similarity.ivfTopKOverIndex(spark, path, 0L, 10, 2)
      .collect().map(_.toString).toSeq === answersBefore,
      "reclaim changed an answer")
    // membership too, not just the page: the compacted index equals a
    // full rebuild row-for-row
    val fullPath = tmp.getAbsolutePath + "/idx_full"
    Similarity.materializeIvfOf(e, fullPath)
    assert(spark.read.parquet(path).select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted.toSeq ===
      spark.read.parquet(fullPath).select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted.toSeq)
    // deferred: an all-compact index is a listing-only no-op — no
    // rewrites, file set byte-identical
    def allFiles(): Map[String, (Long, Long)] =
      walkFiles(new java.io.File(path))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    val before = allFiles()
    assert(Similarity.ivfIndexMaintain(spark, path).isEmpty,
      "a compact index must defer")
    assert(allFiles() === before, "a deferred reclaim touched files")
    rmTree(tmp)
  }

  test("incremental index (v9d): landed files untouched by append, probe equals full rebuild") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, not}
    val e = Tables.embeddings(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_incr_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    // the OPERATOR's own holdout predicate — if the split ever changes,
    // this spec follows it instead of silently checking a stale split
    val isDelta = Similarity.incrementalHoldout
    Similarity.materializeIvfOf(e.filter(not(isDelta)), path)
    // snapshot every base data file (path -> (length, mtime))
    def files(): Map[String, (Long, Long)] =
      walkFiles(new java.io.File(path))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    val before = files()
    Similarity.ivfIndexAppend(spark, path, e.filter(isDelta))
    val after = files()
    // every pre-existing file survives byte-identical (never rewritten)
    before.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"landed file rewritten by append: $p")
    }
    // the delta landed as NEW files inside cent_id=... cell directories
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty, "append landed no files for a non-empty delta")
    added.foreach(p => assert(p.contains("cent_id="),
      s"appended file outside a cell directory: $p"))
    // the maintained index holds row-for-row what a full rebuild holds
    val maintained = spark.read.parquet(path)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val fullPath = tmp.getAbsolutePath + "/idx_full"
    Similarity.materializeIvfOf(e, fullPath)
    val full = spark.read.parquet(fullPath)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(maintained === full, "incremental assignment diverged from full rebuild")
    // and the gate probe equals the full-rebuild probe (v9b) exactly
    val incr = Similarity.ivfIncrementalTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val rebuilt = Similarity.ivfLandedTopK2(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(incr === rebuilt)
    deleteRec(tmp)
  }

  test("index delete (v9e): only affected cells rewritten, doomed rows gone, content equals filtered rebuild") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{col, not}
    val e = Tables.embeddings(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_delete_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    Similarity.materializeIvfOf(e, path)
    def files(): Map[String, (Long, Long)] =
      walkFiles(new java.io.File(path))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    val before = files()
    val doomed = e.filter(Similarity.deletionDoomed).select(col("vec_id"))
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    assert(doomedIds.nonEmpty)
    val affected = Similarity.ivfIndexDelete(spark, path, doomed).toSet
    assert(affected.nonEmpty)
    val after = files()
    // cells WITHOUT doomed rows: every file byte-identical
    before.foreach { case (p, meta) =>
      val cell = "cent_id=([0-9]+)".r.findFirstMatchIn(p).map(_.group(1))
      if (cell.exists(c => !affected.contains(c)))
        assert(after.get(p).contains(meta), s"untouched cell's file changed: $p")
    }
    // no doomed id anywhere; content equals a rebuild over the
    // filtered corpus
    val left = spark.read.parquet(path)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(left.keySet.intersect(doomedIds).isEmpty, "a doomed row survived")
    val rebuiltPath = tmp.getAbsolutePath + "/idx_rebuilt"
    Similarity.materializeIvfOf(e.filter(not(Similarity.deletionDoomed)), rebuiltPath)
    val rebuilt = spark.read.parquet(rebuiltPath)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(left === rebuilt, "partition-scoped delete diverged from filtered rebuild")
    // REPLACE-with-empty: delete EVERY row of one cell on a planted
    // one-hot index — the cell directory itself must disappear
    import spark.implicits._
    val planted = (0L until 12L).map { i =>
      val v = Array.fill(64)(0.0f)
      v(if (i < 8) i.toInt else 3) = 1.0f // 8..11 share centroid 3's axis
      (i, s"l${i % 2}", v)
    }.toDF("vec_id", "label", "embedding")
    val p2 = tmp.getAbsolutePath + "/idx_planted"
    Similarity.materializeIvfOf(planted, p2)
    val cellOf = spark.read.parquet(p2)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((8L to 11L).forall(cellOf(_) == 3L), s"planted geometry broke: $cellOf")
    // doom centroid 3's row AND its whole membership — the cell empties
    Similarity.ivfIndexDelete(spark, p2, Seq(3L, 8L, 9L, 10L, 11L).toDF("vec_id"))
    // REPLACE-with-empty happens INSIDE the commit seam: the staged
    // empty dir replaces the live one, so the dir exists but holds no
    // data files (a post-commit delete would leave a crash window)
    val emptied = new java.io.File(s"$p2/cent_id=3")
    assert(emptied.exists(), "emptied cell must be swapped, not post-deleted")
    assert(walkFiles(emptied).forall(!_.getName.endsWith(".parquet")),
      "fully-emptied cell must hold no parquet files after the swap")
    assert(spark.read.parquet(p2).count() === 7, "other cells must be intact")
    deleteRec(tmp)
  }

  test("v9f: changelog-applied ANN index equals a v2 rebuild, content and probe") {
    import graft.operators.{Similarity, SnapshotDiff}
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val v2 = Similarity.nextEmbeddingRelease(e)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_cdc_spec").toFile
    // the gate composition, applied by hand so the index CONTENT is
    // inspectable: full v1 index, then the s19 changelog through the
    // delete + append maintenance verbs
    val path = tmp.getAbsolutePath + "/idx"
    Similarity.materializeIvfOf(e, path)
    val log = SnapshotDiff.changelog(e, v2, Seq("vec_id"), Seq("embedding", "label"))
      .localCheckpoint(true)
    assert(log.filter(col("op") === "deleted").count() > 0)
    assert(log.filter(col("op") === "updated").count() > 0)
    assert(log.filter(col("op") === "inserted").count() > 0)
    Similarity.ivfIndexDelete(spark, path,
      log.filter(col("op").isin("deleted", "updated")).select(col("vec_id")))
    Similarity.ivfIndexAppend(spark, path,
      log.filter(col("op") =!= "deleted")
        .select(col("vec_id"), col("label"), col("embedding")))
    // content row-for-row equals a rebuild over the derived v2 corpus
    val rebuiltPath = tmp.getAbsolutePath + "/idx_v2"
    Similarity.materializeIvfOf(v2, rebuiltPath)
    def contents(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cent_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(contents(path) === contents(rebuiltPath),
      "changelog-applied index diverged from v2 rebuild")
    // and the gate probe equals the rebuild's probe exactly
    val viaCdc = Similarity.ivfCdcTopK(spark, sfDir).collect().map(_.toSeq).toSeq
    val viaRebuilt = Similarity.ivfTopKOverIndex(spark, rebuiltPath, 0L, 10, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(viaCdc === viaRebuilt)
    assert(viaCdc.nonEmpty)
    deleteRec(tmp)
  }

  test("v12b/v16b: trained PQ codebooks converge and never lose recall to the first-32 tier") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir)
    val cb = Similarity.pqCodebookTrained(e)
    // shape: exactly PqCodebook 64-dim rows (the pqCodebook contract,
    // so pqEncode/LUT/ADC are reusable verbatim)
    val rows = cb.collect()
    assert(rows.length === Similarity.PqCodebook)
    rows.foreach(r => assert(r.getSeq[Double](1).length === 64))
    // training must not move a centroid outside the data's range
    // (means of member subvectors stay inside the convex hull)
    rows.foreach(r => r.getSeq[Double](1).foreach(v => assert(math.abs(v) <= 1.0 + 1e-6)))
    // the recall monitor: the trained tier never loses to first-32 at
    // the suite level (training minimizes the quantization error the
    // ADC ranking pays for)
    val recall = Similarity.pqRecallAtK(spark, sfDir).collect()
    assert(recall.length === 8)
    val sum32 = recall.map(_.getAs[Long]("n_hit_cb32")).sum
    val sumTr = recall.map(_.getAs[Long]("n_hit_trained")).sum
    assert(sumTr >= sum32,
      s"trained codebook lost recall: trained=$sumTr first32=$sum32")
    // and the v12b gate probe runs green over the landed artifact
    val page = Similarity.ivfPqTrainedTopK(spark, sfDir).collect()
    assert(page.nonEmpty)
    assert(page.map(_.getLong(0)).distinct.length === page.length)
  }

  test("index maintenance composes with compaction: fragmented cells compact, probe unchanged") {
    import graft.operators.{Partitioned, Similarity}
    import org.apache.spark.sql.functions.{col, not}
    val e = Tables.embeddings(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_compact_spec").toFile
    val path = tmp.getAbsolutePath + "/idx"
    val d1 = col("vec_id") >= Similarity.IvfCentroids && col("vec_id") % 5 === 3
    val d2 = col("vec_id") >= Similarity.IvfCentroids && col("vec_id") % 5 === 4
    Similarity.materializeIvfOf(e.filter(not(d1 || d2)), path)
    // two ingest batches fragment the cells (one new file per batch per cell)
    Similarity.ivfIndexAppend(spark, path, e.filter(d1))
    Similarity.ivfIndexAppend(spark, path, e.filter(d2))
    def cellFiles(): Int =
      walkFiles(new java.io.File(path))
        .count(f => f.getName.endsWith(".parquet") && f.getAbsolutePath.contains("cent_id="))
    val before = Similarity.ivfTopKOverIndex(spark, path, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val filesBefore = cellFiles()
    // the s16b compaction operator runs UNCHANGED over the index —
    // cells are just partitions; `_centroids` is invisible to it
    val compacted = Partitioned.compact(spark, path, partitionKey = "cent_id")
    assert(compacted.nonEmpty, "appends should have left multi-file cells to compact")
    assert(cellFiles() < filesBefore,
      s"compaction did not reduce cell files: $filesBefore -> ${cellFiles()}")
    val after = Similarity.ivfTopKOverIndex(spark, path, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    assert(after === before, "compaction changed probe results")
    deleteRec(tmp)
  }

  test("IVF+PQ (v12): shortlist within probed cells, exact refine order, pruned code-only ADC scan") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val q = e.find(_._1 == 0L).get._2
    def ip(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      ip(a, b) / (math.sqrt(ip(a, a)) * math.sqrt(ip(b, b)))
    // driver-side coarse geometry: first-8 centroids, argmax assignment
    // (cosine desc, cent_id asc), query's top-2 cells
    val cents = e.filter(_._1 < Similarity.IvfCentroids)
    def cell(v: Array[Double]): Long =
      cents.map { case (cid, cv) => (-cos(v, cv), cid) }.min._2
    val qcells = cents.map { case (cid, cv) => (-cos(q, cv), cid) }
      .sorted.take(2).map(_._2).toSet
    // k=shortlist returns the WHOLE shortlist exact-ranked — recovers
    // shortlist membership without re-deriving the ADC in the driver
    val shortIds = Similarity.ivfPqTopK(spark, sfDir, 0L, k = 50)
      .collect().map(_.getLong(0))
    assert(shortIds.nonEmpty && shortIds.length <= 50)
    shortIds.foreach(id => assert(qcells.contains(cell(e.find(_._1 == id).get._2)),
      s"shortlist member $id lies outside the probed cells"))
    // the refine is the exact ip ranking restricted to the shortlist
    val out = Similarity.ivfPqTopK(spark, sfDir).collect().map(_.getLong(0)).toSeq
    val expected = e.filter(p => shortIds.contains(p._1))
      .sortBy { case (id, v) => (-ip(v, q), id) }.take(10).map(_._1).toSeq
    assert(out === expected)
    // recall floor vs the unrestricted exact top-10 (worst-case
    // near-uniform fixture: cell prune + ADC shortlist; measured 6/10)
    val exactTop = e.filter(_._1 != 0L).sortBy { case (id, v) => (-ip(v, q), id) }
      .take(10).map(_._1).toSet
    assert(out.toSet.intersect(exactTop).size >= 5,
      s"IVF+PQ recall@10 collapsed: ${out.toSet.intersect(exactTop).size}/10")
    // plan: BOTH index scans (code-only ADC pass AND the float refine)
    // must be DPP-pruned to the probed cells — a bare vec_id semi-join
    // refine would read every cell's floats (round-9 review finding);
    // and the ADC pass must project codes WITHOUT the float vectors
    val p = Similarity.ivfPqTopK(spark, sfDir).queryExecution.executedPlan.toString
    val nDpp = "dynamicpruning".r.findAllIn(p.toLowerCase).size
    assert(nDpp >= 2,
      s"expected DPP on both the ADC scan and the refine scan, found $nDpp:\n$p")
    val codeOnlyScan = p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("c0") && !l.contains("embedding"))
    assert(codeOnlyScan, s"no code-only (embedding-free) index scan in plan:\n$p")
  }

  test("hybrid rrf (v13): fusion equals a driver-side fold of the two tier pages") {
    import graft.operators.TextOps
    // the lcm makes every vote an exact integer — divisibility is the
    // whole exactness argument, so pin it
    (1 to 10).foreach(r => assert(Similarity.RrfLcm % (60 + r) === 0L))
    // tier pages recomputed through their OWN public paths
    val semIds = Similarity.semanticSearch(spark, sfDir01).collect()
      .map(r => (r.getLong(0), r.getDouble(2))) // (doc_id, sim_r) — page is doc_id-ordered
    // the page only exposes 6-dp sim_r while the engine ranks on full
    // precision — a 6-dp tie would make this reconstruction ambiguous,
    // so require the fixture page tie-free (it is) and fail loudly if
    // a corpus change ever introduces one
    assert(semIds.map(_._2).distinct.length === semIds.length,
      s"semantic page has 6-dp sim ties; rank reconstruction ambiguous: ${semIds.toSeq}")
    val semRank = semIds.sortBy { case (id, sim) => (-sim, id) }
      .map(_._1).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val lexScored = TextOps.bm25ScoredOf(
      Tables.documents(spark, sfDir01), TextOps.Bm25Terms)
    val lexRank = lexScored.collect().map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._2 > 0L).sortBy { case (id, sc) => (-sc, id) }.take(10)
      .map(_._1).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    def vote(r: Option[Int]): Long =
      r.map(rr => Similarity.RrfLcm / (60L + rr)).getOrElse(0L)
    val expected = (semRank.keySet ++ lexRank.keySet).toSeq.map { id =>
      (id, semRank.getOrElse(id, 0), lexRank.getOrElse(id, 0),
        vote(semRank.get(id)) + vote(lexRank.get(id)))
    }.sortBy { case (id, _, _, u) => (-u, id) }.take(10).sortBy(_._1)
    val got = Similarity.hybridRrf(spark, sfDir01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got === expected)
    // both tiers actually contribute: the fused page must contain a
    // doc ranked by each tier, and any doc on both pages outscores a
    // same-rank single-tier doc by construction of the vote sum
    assert(got.exists(_._2 > 0) && got.exists(_._3 > 0))
  }

  test("hybrid rrf (v13): a custom query drives BOTH tiers, not just the semantic one") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.col
    // 'dup' is a rare fixture token absent from DefaultQuery — if the
    // lexical tier ignored the query argument (the round-9 review bug),
    // no fused row could carry a lexical rank for a 'dup' carrier
    val fused = Similarity.hybridRrf(spark, sfDir01, query = "dup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val lexIds = fused.filter(_._3 > 0).map(_._1).toSet
    assert(lexIds.nonEmpty, "custom query produced no lexical votes")
    val carriers = Tables.documents(spark, sfDir01)
      .filter(col("text").rlike("(^| )dup( |$)"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(lexIds.subsetOf(carriers),
      s"lexical votes for docs not containing 'dup': ${lexIds -- carriers}")
    // and the scored tier itself ranks only carriers
    val scored = TextOps.bm25ScoredOf(
      Tables.documents(spark, sfDir01), TextOps.bm25TermsOf("dup"))
    val positive = scored.filter(col("score_milli") > 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(positive === carriers)
  }

  test("maxsim (v14): engine page equals a driver-side fold over per-token vectors") {
    import graft.operators.{Similarity, TextOps}
    import org.apache.spark.sql.functions.{col, lower}
    val qtoks = TextOps.Bm25Terms
    // per-token vectors computed through the SAME embedder expression,
    // but the explode/crossJoin/max-fold path is re-derived in the
    // driver — a divergence is a plan bug, not embedder noise
    val docs = Tables.documents(spark, sfDir)
    val docToks = docs.selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq)
      .toMap
    val vocab = (docToks.values.flatten.toSet ++ qtoks).toSeq.sorted
    import spark.implicits._
    val vecs = vocab.toDF("tok")
      .withColumn("v", graft.functions.StubEmbed(col("tok")))
      .collect().map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble; i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = docToks.collect { case (id, toks) if toks.nonEmpty =>
      val sim = qtoks.map(q => toks.map(t => cos(vecs(t), vecs(q))).max)
        .foldLeft(0.0)(_ + _)
      (id, sim)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
      .map { case (id, s) =>
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy(_._1)
    val got = Similarity.colbertMaxsim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got === expected)
  }

  test("maxsim (v14): a doc holding every query token verbatim maxes the score") {
    import graft.operators.Similarity
    import spark.implicits._
    val planted = Seq(
      (1L, "customer order filter join", "en"),        // all 4 verbatim → sim ≈ 4
      (2L, "customer order alpha beta gamma", "en"),   // 2 verbatim + noise
      (3L, "alpha beta gamma delta epsilon", "en"),    // none
      (4L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Similarity.colbertMaxsimOf(planted, Similarity.DefaultQuery, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(math.abs(got(1L) - 4.0) < 1e-4, s"verbatim doc must score ~|Q|: $got")
    assert(got(1L) > got(2L) && got(2L) > got(3L), s"ordering broken: $got")
    assert(!got.contains(4L), "tokenless doc has no token vectors, no row")
  }

  test("hybrid rrf (v13b): the landed-index fusion equals the scan-path fusion row-for-row") {
    val scan = Similarity.hybridRrf(spark, sfDir01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    val indexed = Similarity.hybridRrfIndexed(spark, sfDir01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(indexed === scan, "landed lexical tier changed the fusion")
    assert(indexed.nonEmpty)
  }

  test("mmr rerank (v15): diversity demotes the near-duplicate, relevance still leads") {
    import spark.implicits._
    // planted geometry: A1/A2 are near-duplicates at the top of the
    // relevance ranking; B is slightly less relevant but diverse.
    // Pure relevance orders A2, A1, B; MMR (0.7/0.3) must order
    // A2, B, A1 — the near-dup drops behind the diverse doc.
    def vec(vals: (Int, Float)*): Array[Float] = {
      val v = Array.fill(64)(0.0f); vals.foreach { case (i, x) => v(i) = x }; v
    }
    val e = Seq(
      (0L, "q", vec(0 -> 1.0f)),                     // query
      (1L, "A1", vec(0 -> 0.8f, 1 -> 0.6f)),         // rel 0.80
      (2L, "A2", vec(0 -> 0.81f, 1 -> 0.586f)),      // rel ≈0.810, sim(A1,A2)≈0.9998
      (3L, "B", vec(0 -> 0.79f, 2 -> 0.6131f)))      // rel ≈0.790, sim to A* ≈0.63
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.mmrRerankOf(e, 0L, 20, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq === Seq((1, 2L), (2, 3L), (3, 1L)),
      s"MMR order wrong: ${got.toSeq}")
    // fixture sanity: rank 1 is always the pure-relevance top-1, ranks
    // contiguous, picks drawn from the shortlist
    val page = Similarity.mmrRerank(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(page.map(_._1).toSeq === (1 to page.length).toSeq, "ranks must be contiguous")
    val top1 = Similarity.cosineTopK(spark, sfDir, 0L, 1).collect()(0).getLong(0)
    assert(page.head._2 === top1, "rank 1 must be the pure-relevance top-1")
  }

  test("mmr over the hybrid page (v15b): the fused page diversifies a planted paraphrase cluster") {
    import spark.implicits._
    // planted corpus: a two-aspect query — with bag-of-words stub
    // embeddings, a doc is only both RELEVANT and DIVERSE when its
    // relevance comes from DIFFERENT query terms than the cluster's
    // (shared query terms create twin-similarity, which is exactly
    // what MMR penalizes). Docs 1/2 are IDENTICAL and cover aspect
    // "alpha beta"; doc 3 covers aspect "gamma delta" (token-disjoint
    // from the twins, equal relevance by symmetry up to hash noise);
    // docs 4/5 are off-topic filler. Pure relevance cannot separate
    // the twins from doc 3; MMR must put one doc from EACH aspect in
    // the top 2 and demote the twin to rank 3 — it ties rank 1's
    // relevance EXACTLY (same text) yet carries the maximal
    // similarity-1.0 penalty.
    val dir = java.nio.file.Files.createTempDirectory("graft_v15b").toString
    Seq(
      (1L, "alpha beta", "en", "s1"),
      (2L, "alpha beta", "en", "s1"),
      (3L, "gamma delta", "en", "s1"),
      (4L, "omicron sigma tau", "en", "s1"),
      (5L, "upsilon phi chi", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val page = Similarity.mmrRerankHybrid(spark, dir, "alpha beta gamma delta").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(page.map(_._1).toSeq === (1 to page.length).toSeq, "ranks must be contiguous")
    assert(Set(page(0)._2, page(1)._2) === Set(1L, 3L),
      s"top 2 must cover both aspects (one twin + the diverse doc): ${page.toSeq}")
    assert(page(2)._2 === 2L,
      s"the identical twin must be demoted to rank 3 despite tying rank-1 relevance: ${page.toSeq}")
    // the gate form runs the real corpus end to end: contiguous ranks,
    // rank 1 = the fused page's most semantically relevant member
    val gate = Similarity.mmrRerankHybrid(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(gate.map(_._1).toSeq === (1 to gate.length).toSeq)
    assert(gate.nonEmpty)
  }

  test("hybrid rrf (v13): a doc on both pages beats single-tier docs at equal ranks") {
    // pure vote arithmetic on the exact units — rank r in both tiers
    // always beats rank r in one tier, and even rank 1 in one tier
    // never beats rank-10 presence in both when 2/70 > 1/61
    val both = (r: Int) => 2 * (Similarity.RrfLcm / (60 + r))
    val one = (r: Int) => Similarity.RrfLcm / (60 + r)
    (1 to 10).foreach(r => assert(both(r) > one(r)))
    assert(both(10) > one(1), "rank-10-in-both must outvote rank-1-in-one")
  }

  test("v16 ANN recall: per-query overlap mirrors brute force, bounded by k and n_ann") {
    import spark.implicits._
    val rows = Similarity.annRecallAtK(spark, sfDir, nQueries = 8, k = 10).collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val (nAnn, nHit, ppm) = (r.getAs[Long]("n_ann"), r.getAs[Long]("n_hit"),
        r.getAs[Long]("recall_ppm"))
      assert(nHit <= math.min(10L, nAnn))
      assert(ppm === nHit * 100000L)
    }
    // driver mirror: same assignment rule (first-8 centroids, argmax
    // cosine with cent_id tie-break), exact vs cell-restricted top-10
    val e = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = (0L until 8L).map(c => c -> e(c)).toMap
    val cell = e.map { case (v, emb) =>
      v -> cents.toSeq.map { case (c, ce) => (c, cos(emb, ce)) }
        .maxBy { case (c, s) => (s, -c) }._1
    }
    val corpus = e.keys.filter(_ >= 8L).toSeq
    val mirror = (0L until 8L).map { q =>
      def top10(cand: Seq[Long]): Set[Long] =
        cand.map(v => (v, cos(e(v), e(q)))).sortBy { case (v, s) => (-s, v) }
          .take(10).map(_._1).toSet
      val exact = top10(corpus)
      val ann = top10(corpus.filter(cell(_) == cell(q)))
      q -> (ann.size.toLong, (ann & exact).size.toLong)
    }.toMap
    val got = rows.map(r => r.getAs[Long]("query_id") ->
      (r.getAs[Long]("n_ann"), r.getAs[Long]("n_hit"))).toMap
    assert(got === mirror)
  }
}
