package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused pins for the round-17 optimization rewrites: each test asserts
  * that an optimized kernel computes exactly what the shape it replaced
  * computed, or that the plan property the rewrite bought is still there.
  */
class OptimizationR17Spec extends AnyFunSuite {
  import SparkSpec.{spark, sfDir}
  import spark.implicits._

  // ---- JsonTableTree: whole-tree one-parse JSON_TABLE -------------------

  /** The r16 per-level chain (jsonMatches root + jsonTableLevel per level)
    * rebuilt inline as the semantics oracle for the one-parse tree. */
  private def oldShape(df: org.apache.spark.sql.DataFrame) = {
    import graft.functions.{json => gjson}
    df.select(col("id"),
        posexplode(gjson.jsonMatches(col("doc"), lit("$.rows[*]")))
          .as(Seq("__ord0", "__row0")))
      .withColumn("__lvl_1", gjson.jsonTableLevel(col("__row0"),
        Seq(("a", 0, "$.a"), ("has_tags", 1, "$.tags[0]"),
          ("b", 0, "$.b"), ("wild", 0, "$.tags[*]"),
          ("__arr_1_0", 2, "$.tags[*]"))))
      .select(col("id"), (col("__ord0") + 1).cast("long").as("rn"),
        col("__lvl_1.a").cast("int").as("a"),
        col("__lvl_1.has_tags").as("has_tags"),
        coalesce(col("__lvl_1.b"), lit("none")).as("b"),
        col("__lvl_1.wild").as("wild"),
        col("__lvl_1.__arr_1_0").as("__arr"))
      .select(col("id"), col("rn"), col("a"), col("has_tags"), col("b"),
        col("wild"),
        posexplode_outer(col("__arr")).as(Seq("__ordt", "__rowt")))
      .withColumn("tag",
        gjson.jsonTableLevel(col("__rowt"), Seq(("tag", 0, "$"))).getField("tag"))
      .select(col("id"), col("rn"), col("a"), col("has_tags"), col("b"),
        col("wild"), (col("__ordt") + 1).cast("long").as("tn"), col("tag"))
  }

  private def newShape(df: org.apache.spark.sql.DataFrame) = {
    import graft.plans.JsonTable
    JsonTable(df, col("doc"), "$.rows[*]",
      Seq(
        JsonTable.Col("rn", forOrdinality = true),
        JsonTable.Col("a", path = "$.a", colType = "int"),
        JsonTable.Col("has_tags", path = "$.tags[0]", exists = true),
        JsonTable.Col("b", path = "$.b", defaultOnEmpty = Some("none")),
        JsonTable.Col("wild", path = "$.tags[*]"),
        JsonTable.Col("tags", nestedPath = "$.tags[*]", nested = Seq(
          JsonTable.Col("tn", forOrdinality = true),
          JsonTable.Col("tag", path = "$")))),
      passThrough = Seq("id"))
      .select(col("id"), col("rn"), col("a"), col("has_tags"), col("b"),
        col("wild"), col("tn"), col("tag"))
  }

  test("JsonTableTree row set equals the per-level jsonMatches/jsonTableLevel chain") {
    // edge soup: missing keys, JSON null, empty nested arrays, wildcard
    // scalar extract, nested objects/numbers as tags, malformed doc,
    // NULL doc, empty root match set
    val docs = Seq(
      (1L, """{"rows":[{"a":1,"b":"x","tags":["t1","u2"]},{"a":15,"tags":[]}]}"""),
      (2L, """{"rows":[{"a":2,"b":null,"tags":[{"k":1},2,"s"]}]}"""),
      (3L, """{"rows":[]}"""),
      (4L, """not json at all"""),
      (5L, """{"rows":[{"tags":["only"]}]}"""),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "doc")
    val a = oldShape(docs).collect().map(_.toSeq).toSeq
    val b = newShape(docs).collect().map(_.toSeq).toSeq
    assert(a.toSet === b.toSet)
    assert(a.length === b.length)
  }

  // ---- VecArgminL2Sq: NaN distances sort last (ADVICE r16) -------------

  test("VecArgminL2Sq: a NaN-distance candidate never beats a finite one") {
    // candidate 10 yields NaN distance (NaN component) and comes FIRST in
    // the array — the old `<` comparison was NaN-sticky and kept it
    val vecs = Seq((1L, Seq(0.0, 0.0))).toDF("vec_id", "v")
      .withColumn("v", expr("transform(v, x -> CAST(x AS DOUBLE))"))
    val cents = Seq(
      (10L, Seq(Double.NaN, 0.0)),
      (11L, Seq(3.0, 4.0)),
      (12L, Seq(1.0, 0.0))).toDF("cid", "cv")
      .withColumn("cv", expr("transform(cv, x -> CAST(x AS DOUBLE))"))
    val cands = cents.coalesce(1).sortWithinPartitions(col("cid")).agg(
      expr("array_agg(struct(cid, cv))").as("cands"))
    val got = vecs.crossJoin(broadcast(cands))
      .withColumn("mn", graft.functions.vector.vecArgminL2Sq(col("v"), col("cands")))
      .select(col("mn.cid"), col("mn.d2")).collect()(0)
    assert(got.getLong(0) === 12L && got.getDouble(1) === 1.0)
    // all-NaN candidates: the NaN minimum is still returned (sorts last
    // but exists), with the (d2, cid) tie order over equal NaN bits
    val onlyNaN = Seq((20L, Seq(Double.NaN)), (21L, Seq(Double.NaN)))
      .toDF("cid", "cv")
      .withColumn("cv", expr("transform(cv, x -> CAST(x AS DOUBLE))"))
      .coalesce(1).sortWithinPartitions(col("cid"))
      .agg(expr("array_agg(struct(cid, cv))").as("cands"))
    val got2 = Seq(Tuple1(Seq(0.0))).toDF("v")
      .withColumn("v", expr("transform(v, x -> CAST(x AS DOUBLE))"))
      .crossJoin(broadcast(onlyNaN))
      .withColumn("mn", graft.functions.vector.vecArgminL2Sq(col("v"), col("cands")))
      .select(col("mn.cid"), col("mn.d2")).collect()(0)
    assert(got2.getLong(0) === 20L && got2.getDouble(1).isNaN)
  }

  // ---- connectedComponents: one action per propagation round -----------

  test("connectedComponents fuses the convergence scalar into each round's action") {
    // The per-round label-sum fold is the ONLY action: it materializes the
    // round's persisted labels AND returns the convergence scalar in one
    // job. Pin jobs <= rounds + 2 (one initial label-sum, at most one
    // partition/materialization probe) so a second per-round action can
    // never sneak back in.
    // chain of diameter 31: several pointer-doubling rounds
    // (localEdgeCap = 0 forces the distributed loop under measurement)
    val edges = (0L until 31L).map(i => (i, i + 1)).toDF("src", "dst")
    val ((labels, rounds), loopJobs) = Jobs.count(spark) {
      operators.Dedup.connectedComponents(edges, localEdgeCap = 0)
    }
    assert(rounds >= 3, s"chain graph should need several rounds, got $rounds")
    assert(loopJobs <= rounds + 2,
      s"$loopJobs jobs for $rounds rounds — a second per-round action appeared")
    val mm = labels.agg(min(col("lbl")), max(col("lbl"))).collect()(0)
    assert(mm.getLong(0) === 0L && mm.getLong(1) === 0L)
    CacheScope.drain()
  }

  // ---- runtime Bloom filters at cluster scale (q8/q9/q18) --------------

  test("runtime Bloom filter injects for q8/q9 once fact joins exceed broadcast") {
    // At sf0.1 every dimension broadcasts and the rule is (correctly)
    // dormant — its creation/application thresholds are sized for
    // clusters. Recreate the 100 TB shape: dims too big to broadcast
    // (SMJ fact joins) and thresholds at their cluster proportions.
    // InjectRuntimeFilter must then pre-filter the fact scans from the
    // selective dimension sides (guide §3.2).
    for (q <- Seq("tpch_q8", "tpch_q9")) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      val plan = SparkEntry.queries(q)(s2, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      assert(plan.contains("SortMergeJoin"), s"$q: expected the no-broadcast shape")
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"$q: runtime Bloom filter did not inject in the cluster-scale shape")
      CacheScope.drain()
    }
    // q18 documented impossibility: its only pre-join reducer is the
    // HAVING aggregate over lineitem itself — there is no selective
    // creation-side FILTER for InjectRuntimeFilter to build from, at any
    // scale, so no assertion can ever fire there.
  }

  test("session default keeps runtime Bloom filters enabled") {
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") === "true")
  }

  test("json_table_nested plans exactly one JSON parse site (jsontabletree)") {
    val plan = SparkEntry.queries("json_table_nested")(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("jsontabletree".r.findAllIn(plan).size === 1,
      "expected exactly one jsontabletree evaluation")
    assert(!plan.contains("jsontablelevel") && !plan.contains("jsonmatches"),
      "per-level fragment re-parses are back in json_table_nested")
  }
}
