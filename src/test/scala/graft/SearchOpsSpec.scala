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

  test("g3b anchored regrowth: chain resurrection, anchored promotion, pendant rejection, degree gains") {
    // old graph: peeled path 1-2-3-4-5 hanging off core triangle
    // {6,7,8} via anchor edge (5,6). Arrivals: 10 bridges the path's
    // ends into a cycle (the whole chain must RESURRECT), 11 lands
    // with two core anchors (immediate promotion), 12 is a pendant
    // (stays out, and 8 must NOT gain degree from it)
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (6L, 8L),
      (1L, 10L), (5L, 10L), (6L, 11L), (7L, 11L), (8L, 12L)
    ).toDF("a_id", "b_id")
    val old = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val (core, cand, anchor) = Graph.kcoreBaseOf(old, 2, 8)
    // base sanity: the chain peeled, only the triangle cored
    assert(core.select("doc_id").as[Long].collect().sorted.toSeq === Seq(6L, 7L, 8L))
    val got = Graph.kcoreIncrementalOf(all, core, cand, anchor, isNew, 2, 8)
      .as[(Long, Long)].collect().toMap
    val full = Graph.kcoreOf(all, 2, 8)
      .as[(Long, Long)].collect().toMap
    assert(got === full, "anchored regrowth diverged from the full peel")
    assert(got === Map(
      1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 3L, 10L -> 2L, // resurrected cycle
      6L -> 4L, // base 2 + promoted anchor 5 + delta edge to 11
      7L -> 3L, 8L -> 2L, // 8 unchanged: 12 was not promoted
      11L -> 2L)) // anchored promotion
    assert(!got.contains(12L), "pendant arrival must stay out of the core")
  }

  test("g3b gate form equals g3 on the fixture corpus") {
    val got = Graph.kcoreIncremental(spark, sfDir01)
      .as[(Long, Long)].collect().toSeq
    val full = Graph.kcore(spark, sfDir01)
      .as[(Long, Long)].collect().toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  test("g2b gate form equals g2 on the fixture corpus") {
    val got = Graph.trianglesIncremental(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    val full = Graph.triangles(spark, sfDir01)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === full)
    assert(got.nonEmpty)
  }

  // ---------------- g2d/g3c/d7d: dispatched maintenance ----------------

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

  // Most Spark jobs one g3c dispatch call runs on the crafted fixtures
  // below, routing counts and the routed twin's eager landings
  // together. The route reads its counts as one aggregate over the
  // pair frame (delta and total edges) and, warm, one over the landed
  // cand and anchor frames. The anchored regrowth's own AQE stage jobs
  // vary by one between identical calls (39-40 warm), so its ceilings
  // carry that one.
  private val G3cWarmFullPeelJobs = 37
  private val G3cWarmRegrowthJobs = 40
  private val G3cColdFullPeelJobs = 39
  private val G3cColdRegrowthJobs = 87

  test("g3c dispatch: pendant-heavy graph routes to the full peel, core-dense to anchored regrowth") {
    // pendant-heavy: the g3b crafted fixture — the candidate region
    // (chain + anchors + delta) is ~77% of the edge frame → g3
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L, 12L)
    val all = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (6L, 8L),
      (1L, 10L), (5L, 10L), (6L, 11L), (7L, 11L), (8L, 12L)
    ).toDF("a_id", "b_id")
    val old = all.filter(!isNew(col("a_id")) && !isNew(col("b_id")))
    val (core, cand, anchor) = Graph.kcoreBaseOf(old, 2, 8)
    val ((res, chosen), jobs) = jobsOf(Graph.kcoreMaintainOf(all, core, cand, anchor, isNew, 2, 8))
    assert(chosen === "g3", "a dominant candidate region must route to the full peel")
    assert(jobs <= G3cWarmFullPeelJobs, s"warm g3 route ran $jobs Spark jobs")
    assert(res.as[(Long, Long)].collect().toMap ===
      Graph.kcoreOf(all, 2, 8).as[(Long, Long)].collect().toMap)

    // core-dense: the landed graph IS the core (triangle), the arrival
    // a small anchored fringe — candidate share 2/5 → g3b
    val allDense = Seq(
      (6L, 7L), (7L, 8L), (6L, 8L),
      (6L, 10L), (7L, 10L)
    ).toDF("a_id", "b_id")
    val isNewD = (c: org.apache.spark.sql.Column) => c === 10L
    val oldD = allDense.filter(!isNewD(col("a_id")) && !isNewD(col("b_id")))
    val (coreD, candD, anchorD) = Graph.kcoreBaseOf(oldD, 2, 8)
    val ((resD, chosenD), jobsD) =
      jobsOf(Graph.kcoreMaintainOf(allDense, coreD, candD, anchorD, isNewD, 2, 8))
    assert(chosenD === "g3b", "a core-dominant graph must route to anchored regrowth")
    assert(jobsD <= G3cWarmRegrowthJobs, s"warm g3b route ran $jobsD Spark jobs")
    assert(resD.as[(Long, Long)].collect().toMap ===
      Graph.kcoreOf(allDense, 2, 8).as[(Long, Long)].collect().toMap)
  }

  test("g3c cold dispatch: a dominant certainly-peeled region routes to the full peel WITHOUT landing the base") {
    // core triangle (6,7,8) + five degree-1 pendants: the pendants'
    // edges are certainly peeled (old degree < k), so the pair-frame
    // lower bound alone crosses the share and the by-name base thunk
    // must never evaluate (round-13 ADVICE: the cold dispatcher must
    // not pay the whole anchored-regrowth base to read two counts)
    val isNew = (c: org.apache.spark.sql.Column) => c === 10L
    val all = Seq(
      (6L, 7L), (7L, 8L), (6L, 8L),
      (6L, 1L), (6L, 2L), (6L, 3L), (7L, 4L), (7L, 5L),
      (8L, 10L)
    ).toDF("a_id", "b_id")
    var landedBase = false
    val ((res, chosen), jobs) = jobsOf(Graph.kcoreMaintainColdOf(all, {
      landedBase = true
      Graph.kcoreBaseOf(all.filter(!isNew(col("a_id")) && !isNew(col("b_id"))), 2, 8)
    }, isNew, 2, 8))
    assert(chosen === "g3")
    assert(jobs <= G3cColdFullPeelJobs, s"cold g3 route ran $jobs Spark jobs")
    assert(res.as[(Long, Long)].collect().toMap ===
      Graph.kcoreOf(all, 2, 8).as[(Long, Long)].collect().toMap)
    assert(!landedBase, "the g3 route must not evaluate the base thunk")

    // core-dense under the cold estimator: the lower bound stays under
    // the share, the base lands, and the exact warm rule routes g3b
    val allDense = Seq(
      (6L, 7L), (7L, 8L), (6L, 8L), (7L, 9L), (8L, 9L), (6L, 9L),
      (6L, 10L), (7L, 10L)
    ).toDF("a_id", "b_id")
    var landedDense = false
    val ((resD, chosenD), jobsD) = jobsOf(Graph.kcoreMaintainColdOf(allDense, {
      landedDense = true
      Graph.kcoreBaseOf(allDense.filter(!isNew(col("a_id")) && !isNew(col("b_id"))), 2, 8)
    }, isNew, 2, 8))
    assert(chosenD === "g3b")
    assert(jobsD <= G3cColdRegrowthJobs, s"cold g3b route ran $jobsD Spark jobs")
    assert(landedDense, "the g3b route lands the base")
    assert(resD.as[(Long, Long)].collect().toMap ===
      Graph.kcoreOf(allDense, 2, 8).as[(Long, Long)].collect().toMap)
  }

  test("d7d dispatch: below the exchange crossover the full CC runs; above it the quotient apply — same labels") {
    val isNew = (c: org.apache.spark.sql.Column) => c.isin(10L, 11L)
    // two base clusters {1,2} {4,5}, arrival 10 merges them, arrival 11
    // spawns its own with 7; cluster {20,21} untouched
    val all = Seq(
      (1L, 2L), (4L, 5L), (20L, 21L),
      (2L, 10L), (4L, 10L), (7L, 11L)
    ).toDF("a_id", "b_id")
    val base = Dedup.connectedComponents(
      all.filter(!isNew(col("a_id")) && !isNew(col("b_id"))))
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSeq
    val want = labelsOf(Dedup.dedupClustersMaintainOf(all, base, isNew)._1)
    // the fixture sits far below the 2M-edge crossover → full CC
    assert(Dedup.dedupClustersMaintainOf(all, base, isNew)._2 === "d7")
    // forcing the crossover down pins the other route on the same data
    val (resQ, chosenQ) = Dedup.dedupClustersMaintainOf(all, base, isNew, crossover = 1L)
    assert(chosenQ === "d7c")
    assert(labelsOf(resQ) === want, "routing must be invisible in the labels")
    // and a corpus-sized delta refuses the quotient even above the
    // crossover (quotient ≈ full graph there)
    val isAllNew = (c: org.apache.spark.sql.Column) => c >= 0L
    assert(Dedup.dedupClustersMaintainOf(all,
      Dedup.connectedComponents(all.limit(0)), isAllNew, crossover = 1L)._2 === "d7")
  }

  // ---------------- g1c/g1d: PageRank over the grown graph ----------------

  test("g1c gate form equals g1 on the fixture corpus") {
    // g1c and g1d are g1's kernel run: the same rows and the same Spark
    // jobs to build the frame, counted after one warm call has landed
    // the pair memo and repeated to show the count does not drift
    def run(name: String) = {
      val (df, jobs) = jobsOf(SparkEntry.queries(name)(spark, sfDir01))
      (df.as[(Long, Long)].collect().toSeq, jobs)
    }
    run("g1_pagerank")
    val (full, g1Jobs) = run("g1_pagerank")
    assert(full.nonEmpty)
    assert(g1Jobs <= 6, s"g1 ran $g1Jobs Spark jobs (budget 6)")
    for (name <- Seq("g1c_incremental_pagerank", "g1d_maintained_pagerank"); _ <- 1 to 3) {
      val (got, jobs) = run(name)
      assert(got === full, s"$name rows differ from g1")
      assert(jobs === g1Jobs, s"$name ran $jobs Spark jobs, g1 ran $g1Jobs")
    }
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
