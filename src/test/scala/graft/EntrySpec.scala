package graft

/** Driver-contract suite: entry() smoke, every query non-empty at the
  * smoke SF, every oracle key backed by a query. */
class EntrySpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every query returns rows at sf0.001") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("query output column names are unique and stable") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sfDir).columns
      assert(cols.distinct.length === cols.length, s"$name has duplicate columns")
    }
  }

  test("serve requests stay within their job budgets at sf0.001") {
    // the perfbench `serve` requests; a budget is the measured count of
    // build + .count() after one warm call, which lands any index the
    // request reuses (as a long-lived server does)
    val budgets = Map(
      "a2_sum_by_group" -> 3, "j2_threeway_revenue" -> 5,
      "j11c_merge_asof" -> 4, "f11_date_coerce" -> 3,
      "v4_semantic_search" -> 2, "v7_quantized_topk" -> 2,
      "v9_ivf_landed" -> 3, "v13_hybrid_rrf" -> 4,
      "t16b_autocomplete_indexed" -> 1, "x7c_rag_answer" -> 2)
    val over = budgets.toSeq.sorted.flatMap { case (name, budget) =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count()
      spark.catalog.clearCache()
      val (_, jobs) = jobsOf(fn(spark, sfDir).count())
      spark.catalog.clearCache()
      if (jobs > budget) Some(s"$name: $jobs jobs > budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
