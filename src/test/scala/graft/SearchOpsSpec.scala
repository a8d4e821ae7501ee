package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, TextOps, Timeseries}

/** Round-10 serving/analytics additions: phrase search (t12/t12b),
  * PRF expansion (t13), snippets (t14), PageRank canonicalization
  * (g1/g1b), calendar resampling (ts1/ts2). Each op gets a
  * driver-side mirror or a hand-built fixture where the oracle's
  * hash compare can't isolate the property. */
class SearchOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- t12: phrase search ----------------

  private def docsOf(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text").withColumn("lang", lit("en"))

  test("phrase occurrence counting is contiguous, sliding, and case-folded") {
    val docs = docsOf(
      1L -> "table scan table scan",       // two occurrences
      2L -> "table x scan",                // broken phrase: none
      3L -> "TABLE SCAN",                  // case-folded: one
      4L -> "scan table",                  // order matters: none
      5L -> "",                            // empty text
      6L -> "table")                       // shorter than the phrase
    val got = TextOps.phraseSearchOf(docs, Seq("table", "scan"), 10)
      .select("doc_id", "n_occ").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 3L -> 1L))
  }

  test("overlapping phrase occurrences count per offset") {
    val docs = docsOf(1L -> "a a a a")
    val got = TextOps.phraseSearchOf(docs, Seq("a", "a"), 10)
      .select("n_occ").as[Long].head()
    assert(got === 3L) // offsets 0,1,2
  }

  test("indexed phrase page equals the scan form (and a 3-term phrase works)") {
    val dir = sfDir01
    val scan = TextOps.phraseSearchOf(Tables.documents(spark, dir),
      Seq("table", "scan"), 10)
    val idx = TextOps.phraseIndexedSearch(spark, dir, 10)
    assert(scan.collect().toSeq === idx.collect().toSeq)
    // 3-term phrase through both paths on a hand fixture
    val docs = docsOf(1L -> "x fast table scan y", 2L -> "fast table x scan")
    val tmp = java.nio.file.Files.createTempDirectory("graft_pos_spec").toString
    TextOps.materializePhraseIndexOf(docs, tmp)
    val viaIdx = TextOps.phraseOverIndex(spark, tmp, Seq("fast", "table", "scan"), 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(viaIdx === Seq(1L))
    rmTree(new java.io.File(tmp))
  }

  // ---------------- t13: PRF expansion ----------------

  test("dynamic-term scorer matches the wide scan form on static terms") {
    val docs = Tables.documents(spark, sfDir)
    val q0 = TextOps.Bm25Terms
    val wide = TextOps.bm25Of(docs, q0, 10).collect().toSeq
    val dyn = TextOps.bm25DynamicOf(docs, q0.toDF("tok"), 10).collect().toSeq
    assert(wide === dyn)
  }

  test("expansion terms exclude the query terms and stopwords") {
    val docs = Tables.documents(spark, sfDir01)
    val q0 = TextOps.Bm25Terms
    val page = TextOps.bm25Of(docs, q0, 10).select("doc_id")
    val exp = TextOps.prfExpansionOf(docs, page, q0, 3)
      .as[String].collect().toSeq
    assert(exp.size === 3)
    val banned = (q0 ++ TextOps.Stopwords).toSet
    assert(exp.forall(t => !banned.contains(t)))
  }

  // ---------------- t14: snippets ----------------

  test("snippet is the argmax window: most distinct query terms, earliest tie") {
    val docs = docsOf(
      // offsets 5 and 6 both hold customer+order+filter (3 hits);
      // the earliest-tie rule picks 5
      1L -> "x x x x x x customer order filter x x x")
    val got = TextOps.snippetPageOf(docs, Seq("customer", "order", "filter"),
      10, 4).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Int]("start_pos") === 5)
    assert(r.getAs[Int]("n_hits") === 3)
    assert(r.getAs[String]("snippet") === "x customer order filter")
  }

  test("short docs yield the whole-doc window at offset 0") {
    val docs = docsOf(1L -> "customer order")
    val got = TextOps.snippetPageOf(docs, Seq("customer"), 10, 8).collect().head
    assert(got.getAs[Int]("start_pos") === 0)
    assert(got.getAs[String]("snippet") === "customer order")
  }

  // ---------------- g1: PageRank ----------------

  test("pagerank: star center outranks leaves; ranks are deterministic") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a_id", "b_id")
    val r1 = Graph.pagerankOf(pairs, Graph.PagerankIters)
      .as[(Long, Long)].collect().toMap
    val r2 = Graph.pagerankOf(pairs, Graph.PagerankIters)
      .as[(Long, Long)].collect().toMap
    assert(r1 === r2)
    assert(r1(1L) > r1(2L) && r1(2L) === r1(3L) && r1(3L) === r1(4L))
    // every node keeps at least the teleport mass
    assert(r1.values.forall(_ >= 150000L))
  }

  /** Integer PageRank as a plain Scala loop: the round formula, nothing
    * shared with the engine's kernel. */
  private def loopPagerank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    (1 to iters).foldLeft(adj.map { case (k, _) => k -> 1000000L }) { (r, _) =>
      val inr = adj.toSeq.flatMap { case (s, ds) => ds.map(_ -> r(s) / ds.size) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      adj.map { case (k, _) => k -> (150000L + 850L * inr(k) / 1000L) }
    }
  }

  test("pagerank: ranks equal a plain Scala loop; Int ids keep their type; no pairs, no ranks") {
    val rnd = new scala.util.Random(7L)
    val edges = (0 until 60).map { _ =>
      val a = rnd.nextInt(30); val b = (a + 1 + rnd.nextInt(29)) % 30
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.distinct
    val longs = edges.toDF("a_id", "b_id")
    val expected = loopPagerank(edges, Graph.PagerankIters)
    val rl = Graph.pagerankOf(longs, Graph.PagerankIters)
    assert(rl.columns.toSeq === Seq("id", "r"))
    assert(rl.as[(Long, Long)].collect().toMap === expected)
    val ri = Graph.pagerankOf(
      longs.select(col("a_id").cast("int"), col("b_id").cast("int")), Graph.PagerankIters)
    assert(ri.schema.map(f => f.name -> f.dataType) ===
      Seq("id" -> org.apache.spark.sql.types.IntegerType,
        "r" -> org.apache.spark.sql.types.LongType))
    assert(ri.as[(Int, Long)].collect().map { case (k, v) => k.toLong -> v }.toMap === expected)
    val none = Graph.pagerankOf(longs.limit(0), Graph.PagerankIters)
    assert(none.columns.toSeq === Seq("id", "r"))
    assert(none.count() === 0)
  }

  test("g1 job budget: pagerankOf over the fixture's pair landing runs at most 6 Spark jobs") {
    val pairs = Dedup.qualifyingPairsLanded(spark, sfDir01)
    pairs.count() // landed by the memo before counting starts
    val (ranks, jobs) = jobsOf(Graph.pagerankOf(pairs, Graph.PagerankIters))
    assert(ranks.count() > 0)
    assert(jobs <= 6, s"pagerankOf ran $jobs Spark jobs (budget 6)")
  }

  test("d2 job budget: landing the corpus pair frame over the fixture runs at most 7 Spark jobs") {
    val docs = Tables.documents(spark, sfDir01)
    val cap = Dedup.dfCapForTable(spark, sfDir01)
    val (pairs, jobs) = jobsOf(Dedup.ngramJaccardPairsOf(docs, capOverride = Some(cap)))
    assert(pairs.count() > 0)
    assert(jobs <= 7, s"ngramJaccardPairsOf ran $jobs Spark jobs (budget 7)")
  }

  test("g1b canonical is the max-rank member of each d7 cluster") {
    val labels = Dedup.dedupClusters(spark, sfDir01)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val ranks = Graph.pagerank(spark, sfDir01)
      .as[(Long, Long)].collect().toMap
    val expected = labels.groupBy(_._2).map { case (c, ms) =>
      val best = ms.map(_._1).maxBy(id => (ranks(id), -id))
      c -> best
    }
    val got = Graph.canonicalByRank(spark, sfDir01)
      .select("cluster_id", "doc_id").as[(Long, Long)].collect().toMap
    assert(got === expected)
  }

  // ---------------- ts1/ts2: resample + robust outliers ----------------

  test("gap-fill emits the full spine with zero cells and carried values") {
    val ev = Seq(
      ("click", "2024-01-01 00:10:00", 10.0),
      ("click", "2024-01-01 03:30:00", 7.5), // hours 1,2 are gaps
      ("view", "2024-01-01 02:15:00", 1.0)   // hours 0,1 gaps, 3 trailing gap
    ).toDF("event_type", "ts_s", "value")
      .select(col("event_type"), to_timestamp(col("ts_s")).as("ts"), col("value"))
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val got = Timeseries.gapFillHourlyOf(ev)
      .select("event_type", "hour", "n", "has_obs", "carry_value")
      .as[(String, String, Long, Int, Double)].collect()
    assert(got.length === 8) // 2 types × 4 hours
    val click = got.filter(_._1 == "click").sortBy(_._2)
    assert(click.map(_._3).toSeq === Seq(1L, 0L, 0L, 1L))
    assert(click.map(_._5).toSeq === Seq(10.0, 10.0, 10.0, 7.5)) // carried forward
    val view = got.filter(_._1 == "view").sortBy(_._2)
    assert(view.map(_._4).toSeq === Seq(0, 0, 1, 0))
    assert(view.map(_._5).toSeq === Seq(0.0, 0.0, 1.0, 1.0)) // 0.0 before first obs
  }

  test("MAD outlier flags mirror a driver-side median computation") {
    val cells = Timeseries.gapFillHourlyOf(Tables.events(spark, sfDir))
      .select("event_type", "n").as[(String, Long)].collect()
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val expected = cells.groupBy(_._1).flatMap { case (t, ns) =>
      val xs = ns.map(_._2.toDouble).toSeq
      val m = med(xs)
      val mad = med(xs.map(x => math.abs(x - m)))
      xs.map(x => (t, x.toLong, math.abs(x - m) > 3 * mad))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val got = Timeseries.madOutliersHourly(spark, sfDir)
      .select("event_type", "n", "is_outlier")
      .as[(String, Long, Int)].collect()
      .map { case (t, n, o) => (t, n, o == 1) }
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got === expected)
  }

  test("m5 cross-modal page serves only assets passing the decoded-format filter") {
    val page = operators.Multimodal.crossmodalSearch(spark, sfDir01)
    val rows = page.collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[String]("format") == "jpeg"))
    // the decoded-format population the filter admits
    val jpeg = operators.Multimodal.decodeFeatures(spark, sfDir01)
      .filter(col("format") === "jpeg")
      .select("asset_id").as[Long].collect().toSet
    assert(rows.forall(r => jpeg.contains(r.getAs[Long]("asset_id"))))
  }

  test("indexed PRF page equals the scan form") {
    val scan = TextOps.prfExpandedSearch(spark, sfDir01).collect().toSeq
    val idx = TextOps.prfExpandedIndexed(spark, sfDir01).collect().toSeq
    assert(idx === scan)
    assert(scan.nonEmpty)
  }

  // ---------------- g2: triangles ----------------

  test("triangle counts: clique members close triangles, chains close none") {
    // 4-clique {1,2,3,4} + pendant 5 + disjoint chain 6-7-8: each
    // clique member sits in 3 of the clique's 4 triangles; the pendant
    // and the whole chain close none
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L)).toDF("a_id", "b_id")
    val got = Graph.trianglesOf(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(
      1L -> (3L, 3L), 2L -> (3L, 3L), 3L -> (3L, 3L), 4L -> (4L, 3L),
      5L -> (1L, 0L), 6L -> (1L, 0L), 7L -> (2L, 0L), 8L -> (1L, 0L)))
  }

  test("fixture triangles mirror a driver-side brute force over the pair graph") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir01)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = adj.map { case (v, ns) =>
      val nsArr = ns.toArray
      val t = (for {
        i <- nsArr.indices.iterator; j <- (i + 1 until nsArr.length).iterator
        if adj(nsArr(i)).contains(nsArr(j))
      } yield 1).size
      v -> (ns.size.toLong, t.toLong)
    }
    val got = Graph.triangles(spark, sfDir01)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === expected)
  }

  test("g2b incremental triangles: 1-, 2-, and 3-new-corner triangles each count exactly once") {
    // old nodes 1-5, arriving nodes 10-12. Crafted so the delta update
    // must handle: a pure-base triangle {1,2,3} (untouched), one new
    // corner {1,2,10}, two new corners {4,10,11} (enumerable from
    // center 10 AND 11 — must count once), three new corners
    // {10,11,12} (three candidate centers), and a new node in several
    // triangles (10 closes four).
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L),                    // old-old
      (1L, 10L), (2L, 10L), (4L, 10L), (10L, 11L), (10L, 12L),   // new-touching
      (4L, 11L), (11L, 12L), (1L, 12L), (5L, 12L)
    ).toDF("a_id", "b_id")
    val base = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val got = Graph.trianglesIncrementalOf(all, Graph.trianglesOf(base), isNew)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val full = Graph.trianglesOf(all)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === full, "delta apply diverged from the full wedge join")
    assert(got === Map(
      1L -> (5L, 4L), 2L -> (3L, 2L), 3L -> (2L, 1L), 4L -> (2L, 1L),
      5L -> (2L, 1L), 10L -> (5L, 4L), 11L -> (3L, 2L), 12L -> (4L, 3L)))
  }

  test("g2c oriented delta: multi-new-edge triangles count once under edge-age ordering") {
    // same crafted graph as the g2b spec — the oriented form must agree
    // with the full wedge join AND the unoriented delta on every case:
    // pure-base {1,2,3}, one new corner {1,2,10} (one new-EDGE pair:
    // (1,10),(2,10) — lex-least counts), two new corners {4,10,11}
    // (three new edges), three new corners {10,11,12} (all edges new)
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L),
      (1L, 10L), (2L, 10L), (4L, 10L), (10L, 11L), (10L, 12L),
      (4L, 11L), (11L, 12L), (1L, 12L), (5L, 12L)
    ).toDF("a_id", "b_id")
    val base = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val got = Graph.trianglesIncrementalOrientedOf(all, Graph.trianglesOf(base), isNew)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val full = Graph.trianglesOf(all)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === full, "oriented delta apply diverged from the full wedge join")
    val unoriented = Graph.trianglesIncrementalOf(all, Graph.trianglesOf(base), isNew)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === unoriented)
  }

  test("g2c gate form equals g2 on the fixture corpus") {
    val got = Graph.trianglesIncrementalOriented(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    val full = Graph.triangles(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  test("g4b incremental edge support: old-old edges gain support from new corners") {
    // crafted graph from the g2b spec. Key case: old edge (1,2) has
    // base support 1 ({1,2,3}) and gains 1 from the new corner 10
    // ({1,2,10}) — the merge must UPDATE it, not just append new edges
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L),
      (1L, 10L), (2L, 10L), (4L, 10L), (10L, 11L), (10L, 12L),
      (4L, 11L), (11L, 12L), (1L, 12L), (5L, 12L)
    ).toDF("a_id", "b_id")
    val old = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val got = Graph.weakEdgesIncrementalOf(all,
        Graph.trianglesOf(old), Graph.weakEdgesOf(old), isNew)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val full = Graph.weakEdgesOf(all)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === full, "delta support apply diverged from the full role projection")
    assert(got((1L, 2L)) === 2L, "old-old edge must gain support from the new corner")
    assert(got((1L, 5L)) === 1L,
      "base-weak old edge (support 0 over old-old) must gain its support from {1,5,12}")
  }

  test("g4b gate form equals g4 on the fixture corpus") {
    val got = Graph.weakEdgesIncremental(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    val full = Graph.weakEdges(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  /** Runs `base` and then each of `twins` through SparkEntry.queries:
    * the twins must return base's rows and run exactly base's Spark
    * jobs to build the frame, counted after one warm call has landed
    * the pair memo and repeated 3 times to show the count does not
    * drift; base stays within 6 jobs. */
  private def sameAsBase(base: String, twins: String*): Unit = {
    def run(name: String) = {
      val (df, jobs) = jobsOf(SparkEntry.queries(name)(spark, sfDir01))
      (df.as[(Long, Long)].collect().toSeq, jobs)
    }
    run(base)
    val (full, baseJobs) = run(base)
    assert(full.nonEmpty)
    assert(baseJobs <= 6, s"$base ran $baseJobs Spark jobs (budget 6)")
    for (name <- twins; _ <- 1 to 3) {
      val (got, jobs) = run(name)
      assert(got === full, s"$name rows differ from $base")
      assert(jobs === baseJobs, s"$name ran $jobs Spark jobs, $base ran $baseJobs")
    }
  }

  test("g3b gate form equals g3 on the fixture corpus") {
    // g3b and g3c are g3's kernel peel
    sameAsBase("g3_kcore", "g3b_incremental_kcore", "g3c_maintained_kcore")
  }

  test("g2b gate form equals g2 on the fixture corpus") {
    val got = Graph.trianglesIncremental(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    val full = Graph.triangles(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  // ---------------- g2d/d7d: dispatched maintenance ----------------

  test("g2d dispatch: ordinary arrivals route to g2b, a hub arrival routes to g2c — result identical either way") {
    // ordinary regime: the crafted g2b fixture — small delta degrees,
    // centered wedges far under the budget → g2b (lower fixed overhead)
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (1L, 5L),
      (1L, 10L), (2L, 10L), (4L, 10L), (10L, 11L), (10L, 12L),
      (4L, 11L), (11L, 12L), (1L, 12L), (5L, 12L)
    ).toDF("a_id", "b_id")
    val base = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val (res, chosen) = Graph.trianglesMaintainOf(all, Graph.trianglesOf(base), isNew)
    assert(chosen === "g2b", "ordinary arrivals must route to the centered twin")
    val full = Graph.trianglesOf(all)
      .as[(Long, Long, Long)].collect().toSeq
    assert(res.as[(Long, Long, Long)].collect().toSeq === full)

    // hub regime: the round-12 probe's shape — a ring of old deg-2
    // nodes plus ONE arriving hub wired to h of them. centered =
    // C(h, 2) crosses the 4M budget at h = 3000 while oriented stays
    // ~3h, so the dispatcher must route to the oriented twin
    val n = 9000L
    val h = 3000L
    val hub = 1000000L
    val ring = spark.range(n)
      .select(least(col("id"), (col("id") + 1) % n).as("a_id"),
        greatest(col("id"), (col("id") + 1) % n).as("b_id"))
    val spokes = spark.range(h)
      .select(col("id").as("a_id"), lit(hub).as("b_id"))
    val allHub = ring.unionByName(spokes).localCheckpoint(true)
    val isHub = (c: org.apache.spark.sql.Column) => c === hub
    val baseHub = Graph.trianglesOf(allHub.filter(col("b_id") =!= hub))
      .localCheckpoint(true)
    val (centered, oriented) = Graph.triangleRegimeStats(allHub, baseHub, isHub)
    assert(centered === h * (h - 1) / 2, "centered = C(hub degree, 2)")
    assert(centered > Graph.CenteredWedgeBudget && centered > 4L * oriented)
    val (resHub, chosenHub) = Graph.trianglesMaintainOf(allHub, baseHub, isHub)
    assert(chosenHub === "g2c", "a hub arrival must route to the oriented twin")
    // hub + each wired consecutive ring pair closes a triangle: h−1 of
    // them, one per spoke pair (i, i+1) — spot-check the hub's count
    // and the total instead of re-running the full join on 12k edges
    val counts = resHub.as[(Long, Long, Long)].collect()
    assert(counts.find(_._1 == hub).map(_._3) === Some(h - 1))
    assert(counts.map(_._3).sum === 3L * (h - 1), "each triangle counts at 3 corners")
  }

  test("d7d dispatch: below the exchange crossover the full CC runs; above it the quotient apply — same labels") {
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L)
    // two base clusters {1,2} {4,5}, arrival 10 merges them, arrival 11
    // spawns its own with 7; cluster {20,21} untouched
    val all = Seq(
      (1L, 2L), (4L, 5L), (20L, 21L),
      (2L, 10L), (4L, 10L), (7L, 11L)
    ).toDF("a_id", "b_id")
    val base = Graph.connectedComponents(
      all.filter(!isNew(col("a_id")) && !isNew(col("b_id"))))
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSeq
    // the fixture sits far below the 2M-edge crossover → full CC: one
    // routing aggregate (its shuffle stage and its result, 2 jobs) and
    // the kernel CC, one job per round plus its landing — 5 rounds
    // here, since the label 1 walks the path 1-2-10-4-5 for 4 of them
    val ((res, chosen), jobs) = jobsOf(Dedup.dedupClustersMaintainOf(all, base, isNew))
    assert(chosen === "d7")
    assert(jobs <= 2 + 5 + 1, s"the d7 route ran $jobs Spark jobs")
    val want = labelsOf(res)
    // forcing the crossover down pins the other route on the same data
    val (resQ, chosenQ) = Dedup.dedupClustersMaintainOf(all, base, isNew, crossover = 1L)
    assert(chosenQ === "d7c")
    assert(labelsOf(resQ) === want, "routing must be invisible in the labels")
    // and a corpus-sized delta refuses the quotient even above the
    // crossover (quotient ≈ full graph there)
    val isAllNew = (c: org.apache.spark.sql.Column) => c >= 0L
    assert(Dedup.dedupClustersMaintainOf(all,
      Graph.connectedComponents(all.limit(0)), isAllNew, crossover = 1L)._2 === "d7")
  }

  // ---------------- g1c/g1d: PageRank over the grown graph ----------------

  test("g1c gate form equals g1 on the fixture corpus") {
    // g1c and g1d are g1's kernel run
    sameAsBase("g1_pagerank", "g1c_incremental_pagerank", "g1d_maintained_pagerank")
  }

  // ---------------- t15: PMI collocations ----------------

  test("PMI page: perfectly-associated pair ranks first, hapax pairs floored") {
    // "zeta qux" co-occurs 5x and its members appear ONLY together;
    // "the cat" co-occurs 5x but 'the' also occurs alone (diluting its
    // PMI below the perfect pair's); "rare pair" occurs once and must
    // be floored by min-count
    val docs = docsOf(
      1L -> "zeta qux zeta qux zeta qux zeta qux zeta qux",
      2L -> "the cat a the cat b the cat c the cat d the cat the x the y the z rare pair")
    val got = TextOps.pmiCollocationsOf(docs, 5L, 20).collect()
    assert(!got.exists(r => r.getAs[String]("x") == "rare"))
    val byRatio = got.sortBy(-_.getAs[Long]("pmi_ratio_ppm"))
    assert(byRatio.head.getAs[String]("x") === "zeta")
    assert(byRatio.head.getAs[String]("y") === "qux")
  }

  // ---------------- g4: edge support ----------------

  test("edge support: clique edges vouched by common neighbors, bridges score 0") {
    // 4-clique + pendant edge (4,5) + chain (6,7),(7,8): clique edges
    // have 2 common neighbors each; the pendant and chain edges none
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L)).toDF("a_id", "b_id")
    val got = Graph.weakEdgesOf(pairs)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(
      (1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L,
      (4L, 5L) -> 0L, (6L, 7L) -> 0L, (7L, 8L) -> 0L))
  }

  test("fixture edge support mirrors driver-side common-neighbor counts") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir01)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = pairs.map { case (a, b) =>
      (a, b) -> (adj(a) & adj(b)).size.toLong
    }.toMap
    val got = Graph.weakEdges(spark, sfDir01)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === expected)
  }

  // ---------------- g3: k-core ----------------

  test("k-core peels pendants and chains; the clique survives with full degree") {
    // same graph as the triangle fixture: 4-clique + pendant 5 + chain 6-7-8
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L)).toDF("a_id", "b_id")
    val got = Graph.kcoreOf(pairs, 2, 8)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path 1-2-3-4-5 hanging off the triangle {6,7,8} by (5,6) peels
    // alone, but 10 closes it into a cycle through 1 and 5, so the
    // whole chain stays; 11 has two triangle neighbors and stays; the
    // pendant 12 goes, and 8 keeps degree 2 without it
    val grown = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (6L, 8L),
      (1L, 10L), (5L, 10L), (6L, 11L), (7L, 11L), (8L, 12L)
    ).toDF("a_id", "b_id")
    assert(Graph.kcoreOf(grown, 2, 8).as[(Long, Long)].collect().toMap === Map(
      1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 3L, 10L -> 2L,
      6L -> 4L, 7L -> 3L, 8L -> 2L, 11L -> 2L))
  }

  /** The k-core peel as a plain edge-list loop: each round drops every
    * edge with an endpoint of degree < k over the previous round's
    * edges, then each node's remaining degree. Nothing shared with the
    * engine's kernel. */
  private def loopKcore(pairs: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    val last = (1 to rounds).foldLeft(pairs ++ pairs.map(_.swap)) { (es, _) =>
      val deg = es.groupBy(_._1).map { case (u, xs) => u -> xs.size }
      es.filter { case (u, v) => deg(u) >= k && deg(v) >= k }
    }
    last.groupBy(_._1).map { case (u, xs) => u -> xs.size.toLong }
  }

  /** Connected components by union-find, each set rooted at its least
    * id. Nothing shared with the engine's kernel. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Seeded random pair lists over 30 nodes with repeated pairs (either
    * orientation) and self-loops, plus a 13-node pendant chain on node
    * 3, whose self-loop keeps it in every core, so no round budget
    * here peels the chain to its end. */
  private def kernelGraphs: Seq[Seq[(Long, Long)]] = Seq(11L, 12L, 13L).map { seed =>
    val rnd = new scala.util.Random(seed)
    val pairs = (0 until 45).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    pairs ++ pairs.take(6).map(_.swap) ++ Seq((3L, 3L), (7L, 7L)) ++
      (100L until 112L).map(i => (i, i + 1)) :+ ((3L, 100L))
  }

  test("kernel components equal union-find; Int ids keep their type; no pairs, no labels") {
    // the pendant chain puts nodes more than 20 hops (the default
    // round cap) from their component's least id
    for (pairs <- kernelGraphs) {
      val expected = unionFindLabels(pairs)
      val longs = pairs.toDF("a_id", "b_id")
      val cl = Graph.connectedComponents(longs, 60)
      assert(cl.columns.toSeq === Seq("doc_id", "label"))
      assert(cl.as[(Long, Long)].collect().toMap === expected)
      val ci = Graph.connectedComponents(
        longs.select(col("a_id").cast("int"), col("b_id").cast("int")), 60)
      assert(ci.schema.map(f => f.name -> f.dataType) ===
        Seq("doc_id" -> org.apache.spark.sql.types.IntegerType,
          "label" -> org.apache.spark.sql.types.IntegerType))
      assert(ci.as[(Int, Int)].collect().map { case (d, l) => d.toLong -> l.toLong }.toMap ===
        expected)
    }
    assert(Graph.connectedComponents(Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count() === 0)
    // a 5-node path changes labels for 4 rounds and confirms in a 5th:
    // one job per round, plus the landing of the labels
    val (_, jobs) = jobsOf(Graph.connectedComponents((0L until 4L).map(i => (i, i + 1))
      .toDF("a_id", "b_id")))
    assert(jobs <= 5 + 2, s"components of a 5-node path ran $jobs Spark jobs")
  }

  test("kernel peel equals a plain fixed-round peel at every round budget; Int ids keep their type") {
    for (pairs <- kernelGraphs) {
      val longs = pairs.toDF("a_id", "b_id")
      val ints = longs.select(col("a_id").cast("int"), col("b_id").cast("int"))
      for (r <- 1 to Graph.KcoreRounds + 1) {
        val expected = loopKcore(pairs, 2, r)
        assert(Graph.kcoreOf(longs, 2, r).as[(Long, Long)].collect().toMap === expected,
          s"round budget $r")
        val ki = Graph.kcoreOf(ints, 2, r)
        assert(ki.schema.map(f => f.name -> f.dataType) ===
          Seq("doc_id" -> org.apache.spark.sql.types.IntegerType,
            "core_deg" -> org.apache.spark.sql.types.LongType))
        assert(ki.as[(Int, Long)].collect().map { case (d, c) => d.toLong -> c }.toMap ===
          expected, s"Int ids, round budget $r")
      }
      // the pendant chain is still peeling at the last budget
      assert(loopKcore(pairs, 2, Graph.KcoreRounds + 1).contains(100L + 3))
    }
    assert(Graph.kcoreOf(Seq.empty[(Long, Long)].toDF("a_id", "b_id"), 2, Graph.KcoreRounds)
      .count() === 0)
  }

  test("fixture 2-core mirrors a driver-side peel to fixpoint (inside the round budget)") {
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir01)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    var adj: Map[Long, Set[Long]] =
      pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var changed = true
    while (changed) {
      val weak = adj.collect { case (v, ns) if ns.size < 2 => v }.toSet
      changed = weak.nonEmpty
      adj = adj.collect { case (v, ns) if !weak(v) => v -> (ns -- weak) }
        .filter(_._2.nonEmpty).toMap
    }
    val expected = adj.map { case (v, ns) => v -> ns.size.toLong }
    val got = Graph.kcore(spark, sfDir01)
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
    // one extra round changes nothing: the fixture converges inside the budget
    val more = Graph.kcoreOf(
      Dedup.ngramJaccardPairs(spark, sfDir01).select("a_id", "b_id"),
      Graph.KcoreK, Graph.KcoreRounds + 1)
      .as[(Long, Long)].collect().toMap
    assert(more === got)
  }

  // ---------------- t16: autocomplete ----------------

  test("autocomplete ranks by doc frequency (not occurrences) with term tie-break") {
    val docs = docsOf(
      1L -> "spark spark spark scan",   // spark df=1 despite 3 occurrences
      2L -> "scan sort",
      3L -> "scan sort table",
      4L -> "other words")
    val got = TextOps.autocompleteOf(docs, "s", 2)
      .as[(String, Long)].collect().toSeq
    // scan df=3, sort df=2, spark df=1 -> top-2 = scan, sort (term-ordered out)
    assert(got === Seq(("scan", 3L), ("sort", 2L)))
  }

  test("indexed autocomplete equals the scan form") {
    val scan = TextOps.autocomplete(spark, sfDir01).collect().toSeq
    val idx = TextOps.autocompleteIndexed(spark, sfDir01).collect().toSeq
    assert(idx === scan)
    assert(scan.nonEmpty)
  }

  test("fixture PMI page mirrors a driver-side count/ratio computation") {
    val texts = Tables.documents(spark, sfDir)
      .select("text").as[String].collect()
    val toks = texts.flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
    val uni = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = toks.length.toLong
    val bigs = texts.flatMap { t =>
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      w.zip(w.drop(1))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = bigs.toSeq
      .filter(_._2 >= TextOps.PmiMinCount)
      .map { case ((x, y), nxy) =>
        (x, y, nxy, uni(x), uni(y), (nxy * nTok * 1000000L) / (uni(x) * uni(y)))
      }
      .sortBy { case (x, y, _, _, _, r) => (-r, x, y) }
      .take(TextOps.PmiTopK)
      .sortBy { case (x, y, _, _, _, _) => (x, y) }
    val got = TextOps.pmiCollocations(spark, sfDir)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }
}
