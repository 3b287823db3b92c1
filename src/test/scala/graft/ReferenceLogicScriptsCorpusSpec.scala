package graft

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's enginetest/queries/logic_test_scripts.go
  * (1,092 LoC, sqllogictest-derived scripts): SQLLogicJoinTests (USING /
  * NATURAL joins, mixed int/float join keys) and SQLLogicSubqueryTests
  * (EXISTS / IN / NOT IN / correlated aggregation ladders over the c/o
  * order fixture, nested subqueries, nested views).
  *
  * Scripts are parsed from the Go source at test time via [[GoCorpus]]
  * and executed verbatim; expected rows compare unordered (sqllogictest
  * emits no ORDER BY on most). Entries the reference itself skips
  * (Skip: true) are skipped here too; engine divergences are pinned in
  * `divergences` with reasons.
  */
class ReferenceLogicScriptsCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark

  private lazy val engine = new Engine(spark)

  private val path =
    "/root/reference/enginetest/queries/logic_test_scripts.go"

  /** query-text substring → documented reason to skip.
    *
    * The 3VL family: MySQL's IN-subquery is three-valued — no match
    * with a NULL on either side yields NULL. Spark plans IN-subqueries
    * in PROJECTION position as a two-valued ExistenceJoin (true/false),
    * and constant-folds a literal-NULL lhs to NULL even over an empty
    * subquery (MySQL: empty set → FALSE). Observable only when the
    * IN result is projected or wrapped in IS [NOT] NULL — in plain
    * WHERE position NULL and FALSE both drop the row, where the whole
    * corpus already passes.
    *
    * The correlation family: Spark's subquery correlation reaches one
    * scope up and rejects correlated scalar subqueries in JOIN ON and
    * VALUES positions, and non-grouped correlated scalars under
    * GROUP BY. MySQL resolves all of these.
    */
  private val divergences: Map[String, String] = Map(
    "INSERT INTO xy (VALUES ROW(1, 1))" ->
      "parenthesized VALUES-as-query INSERT form",
    "(NULL IN (SELECT ship" -> "3VL IN-subquery (literal NULL lhs)",
    "(NULL NOT IN (SELECT ship" -> "3VL IN-subquery (literal NULL lhs)",
    "(replace(bill, 'TX', 'WY') IN (SELECT" ->
      "3VL IN-subquery wrapped in IS NULL",
    "'WY' IN (SELECT ship FROM o WHERE o.c_id=c.c_id) FROM c" ->
      "two-valued ExistenceJoin in projection",
    "OR 'WA' IN (SELECT ship FROM o WHERE o.c_id=c.c_id) FROM c" ->
      "two-valued ExistenceJoin in projection",
    "NOT IN (SELECT ship FROM o WHERE o.c_id=c.c_id) FROM c" ->
      "two-valued ExistenceJoin in projection",
    "bill IN (SELECT ship FROM o WHERE o.c_id=c.c_id) FROM c" ->
      "two-valued ExistenceJoin in projection",
    "NOT IN (SELECT ship FROM o WHERE o.c_id=c.c_id AND ship IS NULL) FROM c" ->
      "two-valued ExistenceJoin in projection",
    "ON o.ship = (SELECT min(o.ship)" ->
      "correlated scalar subquery in JOIN ON",
    "AND o.ship = (SELECT min(o.ship)" ->
      "correlated scalar subquery in JOIN ON",
    "c_id=c2.c_id AND c_id=c.c_id))" ->
      "two-level-up subquery correlation",
    "(SELECT count(*) FROM o WHERE o.c_id=c.c_id)<=1" ->
      "two-level-up subquery correlation",
    "(SELECT count(*) FROM o AS o2 WHERE o2.ship = o.ship AND o2.c_id <> c.c_id)" ->
      "correlated scalar subquery not in GROUP BY",
    "(VALUES ROW((SELECT count(*) FROM c)" ->
      "scalar subqueries in VALUES",
    "LATERAL (SELECT row_number() OVER () AS rownum" ->
      "window function inside a correlated LATERAL subquery",
    "LATERAL (SELECT row_number() OVER (PARTITION BY bill)" ->
      "window function inside a correlated LATERAL subquery"
  )

  private def norm(v: Any): Any = v match {
    case null => null
    case b: Byte => BigDecimal(b.toInt)
    case s: Short => BigDecimal(s.toInt)
    case i: Int => BigDecimal(i)
    case l: Long => BigDecimal(l)
    case f: Float => BigDecimal(f.toDouble)
    case d: Double => BigDecimal(d)
    case d: java.math.BigDecimal => BigDecimal(d)
    case b: Array[Byte] => new String(b, "UTF-8")
    case other => other
  }

  private def dropCreated(setup: Seq[String]): Unit =
    setup.flatMap(s =>
      "(?i)CREATE\\s+(?:TABLE|VIEW)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z0-9_]+)`?"
        .r.findFirstMatchIn(s).map(_.group(1)))
      .distinct.foreach { t =>
        try engine.query(s"drop view if exists $t")
        catch { case _: Throwable => () }
        try engine.query(s"drop table if exists $t")
        catch { case _: Throwable => () }
      }

  private def runBlock(sc: GoCorpus.Script): Seq[String] = {
    dropCreated(sc.setup)
    sc.setup.foreach(engine.query)
    sc.asserts.flatMap { a =>
      val pinned = divergences.keys.find(a.query.contains)
      if (a.skip || pinned.nonEmpty) None
      else if (a.expectErr) {
        try {
          engine.query(a.query).collect()
          Some(s"${a.query}\n  expected an error, none thrown")
        } catch { case _: Throwable => None }
      } else {
        try {
          val got = engine.query(a.query).collect()
            .map(r => (0 until r.length).map(i => norm(r.get(i))).toSeq)
            .toSeq
          a.expected match {
            case None => None // write statement: execute-only
            case Some(want0) =>
              val want = want0.map(_.map(norm))
              val g = got.sortBy(GoNorm.sortKeyRow)
              val w = want.sortBy(GoNorm.sortKeyRow)
              if (g == w) None
              else Some(s"${a.query}\n  got:  $g\n  want: $w")
          }
        } catch {
          case e: Throwable =>
            Some(s"${a.query}\n  threw ${e.getMessage.take(200)}")
        }
      }
    }
  }

  private val varNames = Seq("SQLLogicJoinTests", "SQLLogicSubqueryTests")

  if (!GoCorpus.present(path)) varNames.foreach { v =>
    test(GoCorpus.absentLabel(v))(GoCorpus.assumePresent(path))
  }
  else for (varName <- varNames) {
    lazy val blocks = GoCorpus.scripts(path, varName)
    // one scalatest test per script block, named after the Go Name field
    for (idx <- GoCorpus.scripts(path, varName).indices) {
      val sc = blocks(idx)
      test(s"$varName: ${sc.name}") {
        val qs = sc.asserts.count(a => !a.skip)
        assert(qs > 0 || sc.asserts.nonEmpty, "block parsed empty")
        val failures = runBlock(sc)
        assert(failures.isEmpty,
          s"${failures.size} mismatches; first:\n" +
            failures.take(3).mkString("\n"))
      }
    }
  }

  test("parser sanity: both vars parsed with the expected block counts") {
    GoCorpus.assumePresent(path)
    assert(GoCorpus.scripts(path, "SQLLogicJoinTests").size == 4)
    assert(GoCorpus.scripts(path, "SQLLogicSubqueryTests").size >= 4)
    // the pinned divergence list references real corpus queries only
    val allQ = (GoCorpus.scripts(path, "SQLLogicJoinTests") ++
      GoCorpus.scripts(path, "SQLLogicSubqueryTests"))
      .flatMap(_.asserts.map(_.query))
    divergences.keys.foreach(k =>
      assert(allQ.exists(_.contains(k)), s"stale divergence entry: $k"))
  }
}
