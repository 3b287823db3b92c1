package graft

import org.scalatest.funsuite.AnyFunSuite

/** Portable subset of the reference's enginetest/queries/stats_queries.go
  * (analyze + histogram management): ANALYZE TABLE fills key-column
  * statistics, ANALYZE ... UPDATE HISTOGRAM USING DATA stores a
  * user-provided histogram, DROP HISTOGRAM clears it, and
  * information_schema.column_statistics exposes the stored state.
  * DIVERGENCE: the HISTOGRAM column carries MySQL's JSON shape (the
  * USING DATA grammar) — the reference renders its internal Go
  * statistic struct instead; the index-costing assertions are planner
  * internals with no Catalyst analog (AQE re-plans from runtime stats).
  */
class ReferenceStatsCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark

  private lazy val engine = new Engine(spark)

  private def stats(): Seq[(String, String, String)] = {
    engine.enableInformationSchema()
    engine.query("SELECT table_name, column_name, histogram FROM " +
      "information_schema.column_statistics ORDER BY table_name, " +
      "column_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
  }

  test("analyze single int column fills column_statistics with exact " +
      "per-value buckets (stats_queries.go 'analyze single int column')") {
    engine.runScript(
      """drop table if exists st1;
        |CREATE TABLE st1 (i bigint primary key);
        |INSERT INTO st1 VALUES (1), (2), (3);
        |ANALYZE TABLE st1;
        |""".stripMargin)
    val s = stats().filter(_._1 == "st1")
    assert(s.map(x => (x._1, x._2)) == Seq(("st1", "i")))
    val h = s.head._3
    assert(h.contains("\"row_count\": 3"))
    assert(h.contains("\"distinct_count\": 3"))
    assert(h.contains("\"null_count\": 0"))
    assert(h.contains("\"upper_bound\": [1]"))
    assert(h.contains("\"upper_bound\": [2]"))
    assert(h.contains("\"upper_bound\": [3]"))
    engine.query("drop table st1")
  }

  test("analyze two indexed columns produces one row per key column") {
    engine.runScript(
      """drop table if exists st2;
        |CREATE TABLE st2 (i bigint primary key, j bigint, key(j));
        |INSERT INTO st2 VALUES (1, 4), (2, 5), (3, 6);
        |ANALYZE TABLE st2;
        |""".stripMargin)
    val s = stats().filter(_._1 == "st2")
    assert(s.map(_._2) == Seq("i", "j"))
    assert(s.forall(_._3.contains("\"row_count\": 3")))
    engine.query("drop table st2")
  }

  test("UPDATE HISTOGRAM USING DATA stores the given JSON; DROP " +
      "HISTOGRAM clears it ('analyze update/drop')") {
    engine.runScript(
      """drop table if exists st3;
        |CREATE TABLE st3 (i bigint primary key, j bigint, key(j));
        |INSERT INTO st3 VALUES (1, 4), (2, 5), (3, 6);
        |""".stripMargin)
    val upd = engine.query("analyze table st3 update histogram on (i) " +
      "using data '{\"row_count\": 40, \"distinct_count\": 40, " +
      "\"null_count\": 1, \"buckets\": [{\"row_count\": 20, " +
      "\"distinct_count\": 20, \"upper_bound\": [50], " +
      "\"bound_count\": 1}, {\"row_count\": 20, \"distinct_count\": 20, " +
      "\"upper_bound\": [80], \"bound_count\": 1}]}'").collect()(0)
    assert(upd.getString(0) == "st3" && upd.getString(1) == "histogram" &&
      upd.getString(3) == "OK")
    val s = stats().filter(_._1 == "st3")
    assert(s.map(_._2) == Seq("i"))
    assert(s.head._3.contains("\"row_count\": 40"))
    assert(s.head._3.contains("\"upper_bound\": [80]"))
    // the stored histogram is queryable AS JSON
    engine.enableInformationSchema()
    assert(engine.query("SELECT json_extract(histogram, '$.null_count') " +
      "FROM information_schema.column_statistics WHERE table_name = 'st3'")
      .collect()(0).get(0).toString == "1")
    val drop = engine.query(
      "analyze table st3 drop histogram on (i)").collect()(0)
    assert(drop.getString(1) == "histogram" && drop.getString(3) == "OK")
    assert(stats().filter(_._1 == "st3").isEmpty)
    engine.query("drop table st3")
  }

  test("UPDATE HISTOGRAM without USING DATA computes from the data; " +
      "an empty table records zero counts; dropping the table clears " +
      "its statistics") {
    engine.runScript(
      """drop table if exists st4;
        |CREATE TABLE st4 (i bigint primary key, f double, key(f));
        |INSERT INTO st4 VALUES (1, 1.5), (2, 2.5), (3, NULL);
        |analyze table st4 update histogram on (f);
        |""".stripMargin)
    val s = stats().filter(_._1 == "st4")
    assert(s.map(_._2) == Seq("f"))
    assert(s.head._3.contains("\"row_count\": 3"))
    assert(s.head._3.contains("\"null_count\": 1"))
    assert(s.head._3.contains("\"distinct_count\": 2"))
    // empty table -> zero counts ('analyze empty table creates stats
    // with 0s')
    engine.runScript(
      """drop table if exists st5;
        |CREATE TABLE st5 (i bigint primary key);
        |ANALYZE TABLE st5;
        |""".stripMargin)
    val s5 = stats().filter(_._1 == "st5")
    assert(s5.head._3.contains("\"row_count\": 0"))
    assert(s5.head._3.contains("\"buckets\": []"))
    engine.runScript("drop table st4; drop table st5;")
    assert(stats().filterNot(x => x._1 == "st4" || x._1 == "st5") ==
      stats())
  }
  test("high-cardinality ANALYZE stays distributed: exact counts, " +
      "<= 20 equi-height buckets, no full distinct-set collect") {
    engine.query("drop table if exists stbig")
    // 30k distinct keys — past the 10k driver-collect cap, so the
    // histogram must come from the distributed bucket path
    engine.spark.range(0, 30000).selectExpr("id AS i")
      .createOrReplaceTempView("stbig")
    engine.declareKey("stbig", Seq("i"))
    engine.query("ANALYZE TABLE stbig")
    engine.enableInformationSchema()
    val h = engine.query("SELECT histogram FROM " +
      "information_schema.column_statistics WHERE table_name = 'stbig'")
      .collect().head.getString(0)
    assert(h.contains("\"row_count\": 30000"))
    assert(h.contains("\"distinct_count\": 30000"))
    assert(h.contains("\"null_count\": 0"))
    val buckets = "\\{\"row_count\"".r.findAllIn(h).size - 1
    assert(buckets == 20, s"expected 20 buckets, got $buckets")
    // equi-height layout: first bucket covers ranks 1..1500, upper bound 1499
    assert(h.contains("\"upper_bound\": [1499]"))
    assert(h.contains("\"upper_bound\": [29999]"))
    engine.query("drop table if exists stbig")
  }

}
