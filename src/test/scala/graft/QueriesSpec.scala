package graft

import org.scalatest.funsuite.AnyFunSuite

/** One test per declared operator: the query must plan, execute, and (for
  * all but a known-empty set) produce rows at sf0.001. Exact-value checks
  * for a few anchors; full value-level verification is the DuckDB oracle
  * gate (tools/compare.py / the driver's t2).
  */
class QueriesSpec extends AnyFunSuite {
  import SparkSpec.{spark, sfDir}

  /** legitimately empty at sf0.001 */
  private val mayBeEmpty = Set("set_except", "dedup_lsh_pairs", "dedup_ngram_jaccard",
    "dedup_embedding", "dedup_clusters", "tpch_q22")

  SparkEntry.all.foreach { q =>
    test(s"${q.name} executes" + (if (q.oracle.isDefined) " [oracle]" else "")) {
      val df = q.fn(spark, sfDir)
      val n = try df.count() finally CacheScope.drain()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("every query has a unique name") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("q1_agg matches hand-checked shape") {
    val rows = SparkEntry.queries("q1_agg")(spark, sfDir).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus minus absent combos
    val cols = rows.head.schema.fieldNames.toSet
    assert(cols == Set("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
      "sum_disc_price", "avg_qty", "avg_price", "avg_disc", "count_order"))
  }

  test("cte_recursive yields powers of two up to 1024") {
    val got = SparkEntry.queries("cte_recursive")(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L))
  }

  test("sim_topk_bruteforce returns 5 neighbors per probe, ranked") {
    val rows = SparkEntry.queries("sim_topk_bruteforce")(spark, sfDir).collect()
    assert(rows.length == 15)
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(0L, 1L, 2L))
    byProbe.values.foreach(g => assert(g.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }

  test("ann_recall reports each index's recall@3 per probe") {
    val rows = try SparkEntry.queries("ann_recall")(spark, sfDir).collect()
      finally CacheScope.drain()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq("ivf_nprobe", "lsh").flatMap(i => (0L to 4L).map(p => (i, p))))
    rows.foreach { r =>
      val hits = r.getLong(2)
      assert(hits >= 0 && hits <= 3, r)
      assert(r.getDouble(3) == hits / 3.0, r)
    }
  }

  test("dedup_minhash_sig emits one signature row per document") {
    val n = SparkEntry.queries("dedup_minhash_sig")(spark, sfDir).count()
    val docs = Tables.t(spark, sfDir, "documents").count()
    assert(n == docs)
  }

  test("oracle SQL exists for every query") {
    // every declared query must be oracle-checkable (even the HLL sketch,
    // whose oracle verifies engine-agnostic tolerance booleans)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }
}
