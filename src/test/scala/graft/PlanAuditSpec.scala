package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Scale-readiness audit over every declared query's physical plan: the
  * O(n·m) join strategies (cartesian / broadcast-nested-loop) may appear
  * only where the operator's semantics genuinely require them. A new query
  * that accidentally plans a nested loop fails here before it ships. */
class PlanAuditSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkSpec.{spark, sfDir}

  /** queries whose semantics are inherently non-equi / all-pairs */
  private val allowedNestedLoop = Set(
    "join_cross",          // CROSS JOIN is the operator under test
    "join_band",           // naive band join (bucketed variant is the scale path)
    "sim_topk_bruteforce", // exact brute force is the baseline by design
    "sim_knn_classify",    // exact kNN vote: probes broadcast over one scan
    "sim_ivf",             // centroid assignment: corpus × 8 centroids (broadcast)
    "sim_ivf_kmeans",      // Lloyd assignment: corpus × k centroids (broadcast)
    "sim_ivf_nprobe",      // centroid assignment: corpus × 8 centroids (broadcast)
    "ann_recall",          // probes × corpus scored pass + centroid assignment
    "dedup_semantic",      // cluster assignment: corpus × K centroids (broadcast);
                           // the pairwise stage itself is a cid equi-join
    "text_match",          // single aggregated stats row broadcast to the scan
    "text_keywords",       // single corpus-count row broadcast to the scores
    "sample_mixture",      // single sum-of-weights row broadcast to the probs
    "dedup_simhash",       // single reference-signature row broadcast (hamming)
    "tpch_q22",            // single aggregated threshold row broadcast
    "tpch_q11",            // single aggregated threshold row broadcast
    "fn_mysql_native", "values_inline", "fn_spatial" // scalar/constant shapes
  )

  test("no unexpected cartesian or nested-loop joins across all queries") {
    val offenders = SparkEntry.all.flatMap { q =>
      val plan =
        try q.fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      val nested = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      if (nested && !allowedNestedLoop.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected nested-loop/cartesian plans in: ${offenders.mkString(", ")}")
  }

  test("LSH pipelines scan the corpus once (signature subtree materialized)") {
    // Round-1 defect: the 4-band unionAll self-join planned the
    // Scan→Generate(shingles)→HashAggregate(minhash) subtree 8× — eight
    // corpus tokenization passes at 100 TB. With posexplode banding +
    // persisted signatures/shingles, the formatted plan must contain at
    // most this many DISTINCT parquet scan nodes (cache-shared scans
    // reuse one node id): lsh_pairs 1 (sig cache), ngram_jaccard 2
    // (shingle cache + the sig cache's captured build plan).
    val maxScans = Map("dedup_lsh_pairs" -> 1, "dedup_ngram_jaccard" -> 2,
      "text_contamination" -> 1)
    val scanId = """Scan parquet\s+\((\d+)\)""".r
    maxScans.foreach { case (name, maxN) =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val ids = scanId.findAllMatchIn(plan).map(_.group(1)).toSet
      assert(ids.size <= maxN,
        s"$name plans ${ids.size} distinct parquet scans (max $maxN): $ids")
    }
  }

  test("ann_recall scores exact, LSH and IVF off one pass: no join, no cache") {
    // all three top-3s rank the same (probe, neighbor) pairs: the plan
    // holds two nested-loop passes (vectors × centroid row, corpus ×
    // probes) and five exchanges — the centroid fold's shuffle and its
    // broadcast (reused by the second scan), the probes' broadcast, the
    // windows' probe partitioning and the final sort's. No equi- or
    // semi-join builds a hash relation and nothing is persisted.
    val df = SparkEntry.queries("ann_recall")(spark, sfDir)
    try df.collect() finally CacheScope.drain()
    val nodes = collect(df.queryExecution.executedPlan) {
      case p => p.getClass.getSimpleName.stripSuffix("Exec")
    }
    val banned = Set("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
      "InMemoryTableScan")
    assert(nodes.filter(banned).isEmpty, nodes)
    val exchanges =
      nodes.count(Set("ShuffleExchange", "BroadcastExchange"))
    assert(exchanges <= 5, s"ann_recall plans $exchanges exchanges: $nodes")
  }

  test("sf-linear dims broadcast only while they fit the threshold") {
    // the 100×-scale invariant: customer/supplier/part never carry a
    // FORCED broadcast hint — Tables.dim applies one only when the size
    // estimate fits under autoBroadcastJoinThreshold, so at cluster scale
    // the same code degrades to an AQE-chosen shuffle join instead of a
    // driver OOM
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      val c = Tables.t(spark, sfDir, "customer")
      // at test scale the estimate fits: the hint is applied...
      spark.conf.set(key, "10485760")
      assert(!(Tables.dim(c) eq c), "expected a broadcast hint under threshold")
      // ...and the q7 physical plan actually broadcasts the dim chains
      val hinted = SparkEntry.queries("tpch_q7")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"), hinted)
      // simulated 100×: the same table no longer fits -> NO forced hint,
      // and the plan falls back to a non-broadcast join for those sides
      spark.conf.set(key, "1024")
      assert(Tables.dim(c) eq c, "hint must disappear past the threshold")
      val unhinted = SparkEntry.queries("tpch_q7")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(unhinted.contains("SortMergeJoin") ||
        unhinted.contains("ShuffledHashJoin"), unhinted)
    } finally spark.conf.set(key, saved)
  }

  test("filters reach the parquet scan (pushdown smoke)") {
    val plan = SparkEntry.queries("scan_project_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.contains("PushedFilters: []"), plan)
  }

  test("column pruning reaches the scan: q1_agg reads only needed columns") {
    // 6 of lineitem's 11 columns feed Q1; the ReadSchema must not widen
    val plan = SparkEntry.queries("q1_agg")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val read = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse(fail(s"no ReadSchema in $plan"))
    val cols = read.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_shipdate"), cols)
  }
}
