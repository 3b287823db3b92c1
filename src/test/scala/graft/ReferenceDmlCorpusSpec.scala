package graft

import org.scalatest.funsuite.AnyFunSuite

/** Write-query corpus ported verbatim from the reference's enginetest
  * DML suites (enginetest/queries/update_queries.go
  * UpdateWriteQueryTests, delete_queries.go DeleteTests,
  * insert_queries.go) over the setup_data fixtures. Each case runs the
  * write through the Engine's SQL-text DML dispatch, asserts MySQL's
  * matched-rows count, then asserts the post-state with the reference's
  * own SELECT. Fixtures are recreated per case — DML mutates them.
  */
class ReferenceDmlCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private lazy val engine = new Engine(spark)

  private def fresh(): Unit = {
    Seq((1L, "first row"), (2L, "second row"), (3L, "third row"))
      .toDF("i", "s").createOrReplaceTempView("mytable")
    Seq[(Long, Option[Long], Option[Int], Option[Double])](
      (1L, None, None, None), (2L, Some(2L), Some(1), None),
      (3L, None, Some(0), None), (4L, Some(4L), None, Some(4.0)),
      (5L, None, Some(1), Some(5.0)), (6L, Some(6L), Some(0), Some(6.0)))
      .toDF("i", "i2", "b", "f").createOrReplaceTempView("niltable")
    // setup_data.sg.go:170 FloattableData
    Seq((1L, 1.0f, 1.0), (2L, 1.5f, 1.5), (3L, 2.0f, 2.0),
      (4L, 2.5f, 2.5), (-1L, -1.0f, -1.0), (-2L, -1.5f, -1.5))
      .toDF("i", "f32", "f64").createOrReplaceTempView("floattable")
  }

  private def norm(v: Any): Any = v match {
    case null => null
    case b: Byte => BigDecimal(b.toInt)
    case s: Short => BigDecimal(s.toInt)
    case i: Int => BigDecimal(i)
    case l: Long => BigDecimal(l)
    case f: Float => BigDecimal(f.toDouble)
    case d: Double => BigDecimal(d)
    case d: java.math.BigDecimal => BigDecimal(d)
    case other => other
  }

  // setup_data one_pk / two_pk / othertable / tabletest fixtures (the
  // tables every update_queries.go join case runs over)
  private def freshJoin(): Unit = {
    fresh()
    Seq((0L, 0L, 1L, 2L, 3L, 4L), (1L, 10L, 11L, 12L, 13L, 14L),
      (2L, 20L, 21L, 22L, 23L, 24L), (3L, 30L, 31L, 32L, 33L, 34L))
      .toDF("pk", "c1", "c2", "c3", "c4", "c5")
      .createOrReplaceTempView("one_pk")
    Seq((0L, 0L, 0L, 1L, 2L, 3L, 4L), (0L, 1L, 10L, 11L, 12L, 13L, 14L),
      (1L, 0L, 20L, 21L, 22L, 23L, 24L), (1L, 1L, 30L, 31L, 32L, 33L, 34L))
      .toDF("pk1", "pk2", "c1", "c2", "c3", "c4", "c5")
      .createOrReplaceTempView("two_pk")
    Seq(("first", 3L), ("second", 2L), ("third", 1L))
      .toDF("s2", "i2").createOrReplaceTempView("othertable")
    Seq((1L, "first row"), (2L, "second row"), (3L, "third row"))
      .toDF("i", "s").createOrReplaceTempView("tabletest")
  }

  private def joinCheck(write: String, matched: Long,
                        select: String, expected: Seq[Seq[Any]]): Unit = {
    freshJoin()
    val res = engine.query(write).collect()
    assert(res(0).getLong(0) == matched,
      s"\nwrite: $write\naffected: ${res(0).getLong(0)} want $matched")
    val got = engine.query(select).collect()
      .map(r => (0 until r.length).map(i => norm(r.get(i))).toSeq).toSeq
      .sortBy(GoNorm.sortKeyRow)
    val want = expected.map(_.map(norm)).sortBy(GoNorm.sortKeyRow)
    assert(got == want,
      s"\nwrite: $write\nselect: $select\ngot:  $got\nwant: $want")
  }

  /** WriteQueryTest: write -> matched count -> select -> expected rows. */
  private def writeCheck(write: String, matched: Long,
                         select: String, expected: Seq[Seq[Any]]): Unit = {
    fresh()
    val res = engine.query(write).collect()
    assert(res(0).getLong(0) == matched,
      s"\nwrite: $write\naffected: ${res(0).getLong(0)} want $matched")
    val got = engine.query(select).collect()
      .map(r => (0 until r.length).map(i => norm(r.get(i))).toSeq).toSeq
      .sortBy(GoNorm.sortKeyRow)
    val want = expected.map(_.map(norm)).sortBy(GoNorm.sortKeyRow)
    assert(got == want, s"\nwrite: $write\nselect: $select\ngot:  $got\nwant: $want")
  }

  test("UPDATE write-query cases (update_queries.go:27-130)") {
    writeCheck("UPDATE mytable SET s = 'updated';", 3,
      "SELECT * FROM mytable",
      Seq(Seq(1, "updated"), Seq(2, "updated"), Seq(3, "updated")))
    writeCheck("UPDATE mytable SET S = 'updated';", 3,
      "SELECT * FROM mytable",
      Seq(Seq(1, "updated"), Seq(2, "updated"), Seq(3, "updated")))
    writeCheck("UPDATE mytable SET s = 'updated' WHERE i > 9999;", 0,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row")))
    writeCheck("UPDATE mytable SET s = 'updated' WHERE i = 1;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "updated"), Seq(2, "second row"), Seq(3, "third row")))
    writeCheck("UPDATE mytable SET s = 'updated' WHERE i <> 9999;", 3,
      "SELECT * FROM mytable",
      Seq(Seq(1, "updated"), Seq(2, "updated"), Seq(3, "updated")))
    // sequential assignment: f32 doubles FIRST, then f64 sees the new f32
    // (reference update_queries.go:59-63 expects f64 = 3.0 * 1.5 = 4.5)
    writeCheck("UPDATE floattable SET f32 = f32 + f32, f64 = f32 * f64 WHERE i = 2;", 1,
      "SELECT * FROM floattable WHERE i = 2",
      Seq(Seq(2, 3.0, 4.5)))
    writeCheck("UPDATE floattable SET f32 = 5, f32 = 4 WHERE i = 1;", 1,
      "SELECT f32 FROM floattable WHERE i = 1",
      Seq(Seq(4.0)))
    writeCheck("UPDATE niltable SET b = NULL WHERE f IS NULL;", 3,
      "SELECT i,b FROM niltable WHERE f IS NULL",
      Seq(Seq(1, null), Seq(2, null), Seq(3, null)))
    writeCheck("UPDATE mytable SET s = 'updated' ORDER BY i ASC LIMIT 2;", 2,
      "SELECT * FROM mytable",
      Seq(Seq(1, "updated"), Seq(2, "updated"), Seq(3, "third row")))
    writeCheck("UPDATE mytable SET s = 'updated' ORDER BY i DESC LIMIT 2;", 2,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "updated"), Seq(3, "updated")))
    writeCheck("UPDATE mytable SET s = 'updated' ORDER BY i LIMIT 1 OFFSET 1;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "updated"), Seq(3, "third row")))
    writeCheck("UPDATE mytable SET s = _binary 'updated' WHERE i = 3;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "updated")))
  }

  test("UPDATE JOIN write-query cases (update_queries.go:185-430): inner/" +
      "left/right/cross joins, derived sources, self-joins, multi-target SET") {
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET two_pk.c1 = two_pk.c1 + 1",
      4, "SELECT * FROM two_pk",
      Seq(Seq(0, 0, 1, 1, 2, 3, 4), Seq(0, 1, 11, 11, 12, 13, 14),
        Seq(1, 0, 21, 21, 22, 23, 24), Seq(1, 1, 31, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE mytable INNER JOIN one_pk ON mytable.i = one_pk.c5 SET mytable.i = mytable.i * 10",
      0, "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row")))
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET two_pk.c1 = two_pk.c1 + 1 WHERE one_pk.c5 < 10",
      2, "SELECT * FROM two_pk",
      Seq(Seq(0, 0, 1, 1, 2, 3, 4), Seq(0, 1, 11, 11, 12, 13, 14),
        Seq(1, 0, 20, 21, 22, 23, 24), Seq(1, 1, 30, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 INNER JOIN othertable on othertable.i2 = two_pk.pk2 SET one_pk.c1 = one_pk.c1 + 1",
      2, "SELECT * FROM one_pk",
      Seq(Seq(0, 1, 1, 2, 3, 4), Seq(1, 11, 11, 12, 13, 14),
        Seq(2, 20, 21, 22, 23, 24), Seq(3, 30, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE one_pk INNER JOIN (SELECT * FROM two_pk order by pk1, pk2) as t2 on one_pk.pk = t2.pk1 SET one_pk.c1 = t2.c1 + 1 where one_pk.pk < 1",
      1, "SELECT * FROM one_pk where pk < 1",
      Seq(Seq(0, 1, 1, 2, 3, 4)))
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET one_pk.c1 = one_pk.c1 + 1",
      2, "SELECT * FROM one_pk",
      Seq(Seq(0, 1, 1, 2, 3, 4), Seq(1, 11, 11, 12, 13, 14),
        Seq(2, 20, 21, 22, 23, 24), Seq(3, 30, 31, 32, 33, 34)))
    // a trailing ORDER BY is legal and ignored
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET one_pk.c1 = one_pk.c1 + 1, one_pk.c2 = one_pk.c2 + 1 ORDER BY one_pk.pk",
      2, "SELECT * FROM one_pk",
      Seq(Seq(0, 1, 2, 2, 3, 4), Seq(1, 11, 12, 12, 13, 14),
        Seq(2, 20, 21, 22, 23, 24), Seq(3, 30, 31, 32, 33, 34)))
    // BOTH tables assigned in one statement; affected sums the targets
    joinCheck(
      "UPDATE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET one_pk.c1 = one_pk.c1 + 1, two_pk.c1 = two_pk.c2 + 1",
      6, "SELECT * FROM two_pk",
      Seq(Seq(0, 0, 2, 1, 2, 3, 4), Seq(0, 1, 12, 11, 12, 13, 14),
        Seq(1, 0, 22, 21, 22, 23, 24), Seq(1, 1, 32, 31, 32, 33, 34)))
    // aliased self-join with an empty match
    joinCheck(
      "update mytable h join mytable on h.i = mytable.i and h.s <> mytable.s set h.i = mytable.i+1",
      0, "select * from mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row")))
    // cross joins; targets on either side, including a self-cross alias
    joinCheck(
      "UPDATE othertable CROSS JOIN tabletest set othertable.i2 = othertable.i2 * 10",
      3, "SELECT * FROM othertable order by i2",
      Seq(Seq("third", 10), Seq("second", 20), Seq("first", 30)))
    joinCheck(
      "UPDATE tabletest cross join tabletest as t2 set tabletest.i = tabletest.i * 10",
      3, "SELECT * FROM tabletest order by i",
      Seq(Seq(10, "first row"), Seq(20, "second row"), Seq(30, "third row")))
    joinCheck(
      "UPDATE tabletest cross join tabletest as t2 set t2.i = t2.i * 10",
      3, "SELECT * FROM tabletest order by i",
      Seq(Seq(10, "first row"), Seq(20, "second row"), Seq(30, "third row")))
    joinCheck(
      "UPDATE othertable cross join tabletest set tabletest.i = tabletest.i * 10",
      3, "SELECT * FROM tabletest order by i",
      Seq(Seq(10, "first row"), Seq(20, "second row"), Seq(30, "third row")))
    joinCheck(
      "UPDATE othertable INNER JOIN tabletest on othertable.i2=3 and tabletest.i=3 SET othertable.s2 = 'fourth'",
      1, "SELECT * FROM othertable order by i2",
      Seq(Seq("third", 1), Seq("second", 2), Seq("fourth", 3)))
    // LEFT JOIN: unmatched left rows still update; NULL right keys never
    // produce phantom target rows
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=3 and tabletest.i=3 SET othertable.s2 = 'fourth'",
      3, "SELECT * FROM othertable order by i2",
      Seq(Seq("fourth", 1), Seq("fourth", 2), Seq("fourth", 3)))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=3 and tabletest.i=3 SET tabletest.s = 'fourth row', tabletest.i = tabletest.i + 1",
      1, "SELECT * FROM tabletest order by i",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(4, "fourth row")))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest t3 on othertable.i2=3 and t3.i=3 SET t3.s = 'fourth row', t3.i = t3.i + 1",
      1, "SELECT * FROM tabletest order by i",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(4, "fourth row")))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=3 and tabletest.i=3 LEFT JOIN one_pk on othertable.i2 = one_pk.pk SET one_pk.c1 = one_pk.c1 + 1",
      3, "SELECT * FROM one_pk order by pk",
      Seq(Seq(0, 0, 1, 2, 3, 4), Seq(1, 11, 11, 12, 13, 14),
        Seq(2, 21, 21, 22, 23, 24), Seq(3, 31, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=3 and tabletest.i=3 LEFT JOIN one_pk on othertable.i2 = one_pk.pk SET one_pk.c1 = one_pk.c1 + 1 where one_pk.pk > 4",
      0, "SELECT * FROM one_pk order by pk",
      Seq(Seq(0, 0, 1, 2, 3, 4), Seq(1, 10, 11, 12, 13, 14),
        Seq(2, 20, 21, 22, 23, 24), Seq(3, 30, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=3 and tabletest.i=3 LEFT JOIN one_pk on othertable.i2 = 1 and one_pk.pk = 1 SET one_pk.c1 = one_pk.c1 + 1",
      1, "SELECT * FROM one_pk order by pk",
      Seq(Seq(0, 0, 1, 2, 3, 4), Seq(1, 11, 11, 12, 13, 14),
        Seq(2, 20, 21, 22, 23, 24), Seq(3, 30, 31, 32, 33, 34)))
    joinCheck(
      "UPDATE othertable RIGHT JOIN tabletest on othertable.i2=3 and tabletest.i=3 SET othertable.s2 = 'fourth'",
      1, "SELECT * FROM othertable order by i2",
      Seq(Seq("third", 1), Seq("second", 2), Seq("fourth", 3)))
    joinCheck(
      "UPDATE othertable RIGHT JOIN tabletest on othertable.i2=3 and tabletest.i=3 SET othertable.i2 = othertable.i2 + 1",
      1, "SELECT * FROM othertable order by i2",
      Seq(Seq("third", 1), Seq("second", 2), Seq("first", 4)))
    joinCheck(
      "UPDATE othertable LEFT JOIN tabletest on othertable.i2=tabletest.i RIGHT JOIN one_pk on othertable.i2 = 1 and one_pk.pk = 1 SET tabletest.s = 'updated'",
      1, "SELECT * FROM tabletest order by i",
      Seq(Seq(1, "updated"), Seq(2, "second row"), Seq(3, "third row")))
  }

  test("UPDATE IGNORE with JOIN (update_queries.go:430-450): no-conflict " +
      "join behaves like plain; a key-assigning self-join keeps the " +
      "first row and skips colliding updates") {
    // the reference fixture declares pk as one_pk's PRIMARY KEY — the
    // IGNORE dup-skip keys off the declared key
    engine.declareKey("one_pk", Seq("pk"))
    joinCheck(
      "UPDATE IGNORE one_pk INNER JOIN two_pk on one_pk.pk = two_pk.pk1 SET two_pk.c1 = two_pk.c1 + 1",
      4, "SELECT * FROM two_pk",
      Seq(Seq(0, 0, 1, 1, 2, 3, 4), Seq(0, 1, 11, 11, 12, 13, 14),
        Seq(1, 0, 21, 21, 22, 23, 24), Seq(1, 1, 31, 31, 32, 33, 34)))
    // all four rows match and try pk = 10; only the first (pk=0) applies
    joinCheck(
      "UPDATE IGNORE one_pk JOIN one_pk one_pk2 on one_pk.pk = one_pk2.pk SET one_pk.pk = 10",
      1, "SELECT * FROM one_pk",
      Seq(Seq(1, 10, 11, 12, 13, 14), Seq(2, 20, 21, 22, 23, 24),
        Seq(3, 30, 31, 32, 33, 34), Seq(10, 0, 1, 2, 3, 4)))
    engine.alterDef("one_pk")(_.copy(key = None))
  }

  test("DELETE write-query cases (delete_queries.go:25-90)") {
    writeCheck("DELETE FROM mytable;", 3, "SELECT * FROM mytable", Seq.empty)
    writeCheck("DELETE FROM mytable WHERE i = 2;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE I = 2;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE i < 3;", 2,
      "SELECT * FROM mytable", Seq(Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE i > 1;", 2,
      "SELECT * FROM mytable", Seq(Seq(1, "first row")))
    writeCheck("DELETE FROM mytable WHERE i <= 2;", 2,
      "SELECT * FROM mytable", Seq(Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE i >= 2;", 2,
      "SELECT * FROM mytable", Seq(Seq(1, "first row")))
    writeCheck("DELETE FROM mytable WHERE s = 'first row';", 1,
      "SELECT * FROM mytable",
      Seq(Seq(2, "second row"), Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE s <> 'dne';", 3,
      "SELECT * FROM mytable", Seq.empty)
    writeCheck("DELETE FROM mytable WHERE i in (2,3);", 2,
      "SELECT * FROM mytable", Seq(Seq(1, "first row")))
    writeCheck("DELETE FROM mytable WHERE s LIKE '%row';", 3,
      "SELECT * FROM mytable", Seq.empty)
    writeCheck("DELETE FROM mytable ORDER BY i ASC LIMIT 2;", 2,
      "SELECT * FROM mytable", Seq(Seq(3, "third row")))
    writeCheck("DELETE FROM mytable ORDER BY i DESC LIMIT 1;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row")))
  }

  test("INSERT .. SELECT source shapes: projections, joins, group/having, " +
      "order-limit (insert_queries.go INSERT..SELECT block)") {
    writeCheck("INSERT INTO mytable SELECT i+100,s FROM mytable", 3,
      "SELECT count(*) c FROM mytable", Seq(Seq(6L)))
    writeCheck("INSERT INTO mytable (i,s) SELECT i+10, 'new' FROM mytable", 3,
      "SELECT count(*) c FROM mytable WHERE s = 'new'", Seq(Seq(3L)))
    writeCheck(
      "INSERT INTO mytable (i,s) SELECT CHAR_LENGTH(s), concat('numrows: ', count(*)) from mytable group by 1",
      2, "SELECT * FROM mytable WHERE s like 'numrows%' ORDER BY i",
      Seq(Seq(9, "numrows: 2"), Seq(10, "numrows: 1")))
    writeCheck(
      "INSERT INTO mytable (i,s) SELECT i * 2, concat(s,s) from mytable order by 1 desc limit 1",
      1, "SELECT * FROM mytable ORDER BY i",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row"),
        Seq(6, "third rowthird row")))
  }

  test("ON DUPLICATE KEY UPDATE row alias + qualified targets " +
      "(insert_queries.go MySQL 8.0.19 AS dt forms)") {
    engine.runScript(
      """create table odku_t (i bigint primary key, s text);
        |insert into odku_t values (1, 'first row'), (2, 'second row'), (3, 'third row');
        |""".stripMargin)
    def s1 = engine.query("select s from odku_t where i = 1")
      .collect()(0).getString(0)
    assert(engine.query(
      "INSERT INTO odku_t (i,s) values (1,'hi') ON DUPLICATE KEY UPDATE s=VALUES(s)")
      .collect()(0).getLong(0) == 2)
    assert(s1 == "hi")
    // row alias with a column list: names map positionally
    assert(engine.query(
      "INSERT INTO odku_t (i,s) values (1, 'hi2') AS dt(new_i,new_s) ON DUPLICATE KEY UPDATE s=new_s")
      .collect()(0).getLong(0) == 2)
    assert(s1 == "hi2")
    // bare row alias + table-qualified assignment target
    assert(engine.query(
      "INSERT INTO odku_t (i,s) values (1, 'hi3') AS dt ON DUPLICATE KEY UPDATE odku_t.s=dt.s")
      .collect()(0).getLong(0) == 2)
    assert(s1 == "hi3")
    // composed VALUES() text over a mixed update/insert batch:
    // 2 updates (x2) + 1 plain insert = 5
    assert(engine.query(
      "INSERT INTO odku_t (i,s) values (1,'mar'), (2,'par'), (9,'new') ON DUPLICATE KEY UPDATE s=CONCAT(VALUES(s), 'tial')")
      .collect()(0).getLong(0) == 5)
    assert(engine.query("select s from odku_t where i in (1,2,9) order by i")
      .collect().map(_.getString(0)).toSeq ==
      Seq("martial", "partial", "new"))
    engine.query("drop table odku_t")
  }

  test("DELETE ORDER/LIMIT/OFFSET, row-value WHERE, CTE-prefixed DML, " +
      "multi-table DELETE spellings (delete_queries.go:98-210, " +
      "update_queries.go:452-468)") {
    writeCheck("DELETE FROM mytable ORDER BY i ASC LIMIT 2;", 2,
      "SELECT * FROM mytable", Seq(Seq(3, "third row")))
    writeCheck("DELETE FROM mytable ORDER BY i DESC LIMIT 1;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row")))
    writeCheck("DELETE FROM mytable ORDER BY i DESC LIMIT 1 OFFSET 1;", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(3, "third row")))
    writeCheck("DELETE FROM mytable WHERE (i,s) = (1, 'first row');", 1,
      "SELECT * FROM mytable",
      Seq(Seq(2, "second row"), Seq(3, "third row")))
    // CTEs ahead of DML: evaluated against statement-start state
    writeCheck(
      "with t (n) as (select (1) from dual) delete from mytable where i in (select n from t)",
      1, "select * from mytable order by i",
      Seq(Seq(2, "second row"), Seq(3, "third row")))
    writeCheck(
      "with recursive t (n) as (select (1) from dual union all select n + 1 from t where n < 2) delete from mytable where i in (select n from t)",
      2, "select * from mytable order by i", Seq(Seq(3, "third row")))
    writeCheck(
      "with t (n) as (select (1) from dual) UPDATE mytable set s = concat('updated ', i) where i in (select n from t)",
      1, "select * from mytable order by i",
      Seq(Seq(1, "updated 1"), Seq(2, "second row"), Seq(3, "third row")))
    writeCheck(
      "with recursive t (n) as (select (1) from dual union all select n + 1 from t where n < 2) UPDATE mytable set s = concat('updated ', i) where i in (select n from t)",
      2, "select * from mytable order by i",
      Seq(Seq(1, "updated 1"), Seq(2, "updated 2"), Seq(3, "third row")))
    // multi-table DELETE spellings over a join (DeleteJoinTests)
    joinCheck("DELETE mytable FROM mytable join tabletest where mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 3L)))
    joinCheck("DELETE MYTABLE FROM mytAble join tAbletest where mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 3L)))
    joinCheck("DELETE tabletest FROM mytable join tabletest where mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(3L, 0L)))
    joinCheck("DELETE t1 FROM mytable as t1 join tabletest where t1.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 3L)))
    joinCheck("DELETE mytable, tabletest FROM mytable join tabletest where mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 0L)))
    joinCheck("DELETE mytable FROM mytable;", 3,
      "SELECT count(*) FROM mytable", Seq(Seq(0L)))
    joinCheck("DELETE mytable FROM mytable WHERE i > 9999;", 0,
      "SELECT count(*) FROM mytable", Seq(Seq(3L)))
    // the USING spelling
    joinCheck("DELETE FROM mytable USING mytable inner join tabletest on mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 3L)))
  }

  test("ODKU referencing a SELECT source's derived-table alias " +
      "(insert_queries.go issue 6675)") {
    engine.runScript(
      """create table oxy (x int primary key, y date);
        |insert into oxy values (0,'2023-09-16');
        |""".stripMargin)
    assert(engine.query(
      "INSERT INTO oxy (y,x) select * from (select cast('2019-12-31' as date), 0) dt(a,b) " +
      "ON DUPLICATE KEY UPDATE x=dt.b+1, y=dt.a").collect()(0).getLong(0) == 2L)
    assert(engine.query("select * from oxy").collect()
      .map(r => (r.getInt(0), r.getAs[Any](1).toString)).toSeq ==
      Seq((1, "2019-12-31")))
    engine.query("drop table oxy")
  }

  test("empty VALUES tuple against a non-empty column list errors 1136; " +
      "listless forms still expand to DEFAULT rows (insert_queries.go)") {
    engine.runScript(
      """create table et1136 (a int primary key auto_increment, b int default 7);
        |insert into et1136 () values ();
        |insert into et1136 values (), ();
        |""".stripMargin)
    assert(engine.query("select a, b from et1136 order by a").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 7), (2, 7), (3, 7)))
    // MySQL: "Column count doesn't match value count at row 1"
    assert(intercept[IllegalArgumentException] {
      engine.query("insert into et1136 (b) values ()")
    }.getMessage.contains("1136"))
    // arity comes from the table, not a miscounted column list: a mixed
    // listless batch keeps working after the error
    engine.query("insert into et1136 values (10, 1), ()")
    assert(engine.query("select count(*) c from et1136").collect()(0)
      .getLong(0) == 5L)
    engine.query("drop table et1136")
  }

  test("ODKU row alias with wrong column count errors 1136 " +
      "(insert_queries.go 'incorrect row alias')") {
    engine.query("create table ra1136 (i int primary key)")
    assert(intercept[IllegalArgumentException] {
      engine.query(
        "insert into ra1136 values (1) as new(c, d) on duplicate key update i = c")
    }.getMessage.contains("1136"))
    engine.query("drop table ra1136")
  }

  test("ODKU referencing source tables in the SELECT subquery " +
      "(insert_queries.go 'references table in subquery' family)") {
    // plain table source
    engine.runScript(
      """create table oda (i int primary key);
        |insert into oda values (1);
        |create table odb (j int primary key);
        |insert into odb values (1), (2), (3);
        |""".stripMargin)
    assert(engine.query(
      "insert into oda (select * from odb) on duplicate key update oda.i = odb.j + 100")
      .collect()(0).getLong(0) == 4L)
    assert(engine.query("select * from oda order by i").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3, 101))
    engine.runScript("drop table oda; drop table odb;")
    // derived-table alias with different schema lengths
    engine.runScript(
      """create table oda (i int primary key, j int, k int);
        |insert into oda values (1, 2, 3);
        |create table odb (i int primary key);
        |insert into odb values (1);
        |""".stripMargin)
    assert(intercept[Exception] {
      engine.query(
        "insert into oda select * from (select i from odb) as bb on duplicate key update oda.i = bb.i + 100")
    }.getMessage.nonEmpty)
    assert(engine.query(
      "insert into oda (i) select * from (select i from odb) as bb on duplicate key update oda.i = bb.i + 100")
      .collect()(0).getLong(0) == 2L)
    assert(engine.query("select * from oda").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((101, 2, 3)))
    engine.runScript("drop table oda; drop table odb;")
    // join source: two qualifiers map positionally over output columns
    engine.runScript(
      """create table oda (i int primary key, j int);
        |insert into oda values (1,1);
        |create table odb (x int primary key);
        |insert into odb values (1), (2), (3);
        |create table odc (y int primary key);
        |insert into odc values (1), (2), (3);
        |""".stripMargin)
    assert(engine.query(
      "insert into oda (select * from odb join odc where odb.x = odc.y) on duplicate key update oda.j = odb.x + odc.y + 100")
      .collect()(0).getLong(0) == 4L)
    assert(engine.query("select * from oda order by i").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 102), (2, 2), (3, 3)))
    engine.runScript("drop table oda; drop table odb; drop table odc;")
    // CTE source: the cte name qualifies incoming columns
    engine.runScript(
      """create table oda (i int primary key);
        |insert into oda values (1);
        |create table odb (j int primary key);
        |insert into odb values (1), (2), (3);
        |""".stripMargin)
    assert(engine.query(
      "insert into oda with cte as (select * from odb) select * from cte on duplicate key update oda.i = cte.j + 100")
      .collect()(0).getLong(0) == 4L)
    assert(engine.query("select * from oda order by i").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3, 101))
    engine.runScript("drop table oda; drop table odb;")
  }

  test("CTE-prefixed INSERT ... SELECT with nested CTEs " +
      "(insert_queries.go issue 4857)") {
    engine.runScript(
      """create table cxy (x int primary key, y int);
        |insert into cxy values (0,0), (1,1), (2,2);
        |""".stripMargin)
    val n = engine.query(
      """With a as (
        |  With b as (
        |    Select sum(x) as x, y from cxy where x < 2 group by y
        |  )
        |  Select * from b d
        |) insert into cxy (x,y) select x+9,y+9 from a""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 2L)
    assert(engine.query("select * from cxy order by x").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 0), (1, 1), (2, 2), (9, 9), (10, 10)))
    engine.query("drop table cxy")
  }

  test("multi-table DELETE long tail (delete_queries.go:210-265): " +
      "multi-target USING, filtered reversed targets, derived-table " +
      "and JSON_TABLE sources, CTE-prefixed join deletes") {
    joinCheck("DELETE FROM mytable, tabletest USING mytable inner join tabletest on mytable.i=tabletest.i;",
      3, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(0L, 0L)))
    joinCheck("DELETE mytable FROM mytable join tabletest where mytable.i=tabletest.i and mytable.i = 2;",
      1, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(2L, 3L)))
    joinCheck("DELETE mytable, tabletest FROM mytable join tabletest where mytable.i=tabletest.i and mytable.i = 2;",
      1, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(2L, 2L)))
    joinCheck("DELETE tabletest, mytable FROM mytable join tabletest where mytable.i=tabletest.i and mytable.i = 2;",
      1, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(2L, 2L)))
    joinCheck("DELETE mytable FROM mytable join (select 1 as i union all select 2 as i) dt where mytable.i=dt.i;",
      2, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(1L, 3L)))
    joinCheck("with t (n) as (select (1) from dual) delete mytable from mytable join tabletest where mytable.i=tabletest.i and mytable.i in (select n from t)",
      1, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(2L, 3L)))
    joinCheck("with t (n) as (select (1) from dual) delete mytable, tabletest from mytable join tabletest where mytable.i=tabletest.i and mytable.i in (select n from t)",
      1, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(2L, 2L)))
    joinCheck("DELETE mytable FROM mytable join tabletest on mytable.i=tabletest.i join JSON_TABLE('[{\"x\": 1},{\"x\": 2}]', '$[*]' COLUMNS (x INT PATH '$.x')) as jt on jt.x=mytable.i;",
      2, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(1L, 3L)))
    joinCheck("DELETE mytable, tabletest FROM mytable join tabletest on mytable.i=tabletest.i join JSON_TABLE('[{\"x\": 1},{\"x\": 2}]', '$[*]' COLUMNS (x INT PATH '$.x')) as jt on jt.x=mytable.i;",
      2, "SELECT (select count(*) FROM mytable) a, (SELECT count(*) from tabletest) b",
      Seq(Seq(1L, 1L)))
  }

  test("INSERT write-query cases (insert_queries.go shapes)") {
    writeCheck("INSERT INTO mytable VALUES (4, 'fourth row');", 1,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row"),
        Seq(4, "fourth row")))
    writeCheck("INSERT INTO mytable (i, s) VALUES (4, 'fourth row'), (5, 'fifth row');", 2,
      "SELECT * FROM mytable",
      Seq(Seq(1, "first row"), Seq(2, "second row"), Seq(3, "third row"),
        Seq(4, "fourth row"), Seq(5, "fifth row")))
    writeCheck("INSERT INTO mytable (s, i) VALUES ('x row', 9);", 1,
      "SELECT * FROM mytable WHERE i = 9", Seq(Seq(9, "x row")))
    writeCheck("INSERT INTO mytable SELECT i + 10, upper(s) FROM mytable;", 3,
      "SELECT count(*) FROM mytable", Seq(Seq(6)))
    // SET assignment form (insert_queries.go:71,84)
    writeCheck("INSERT INTO mytable SET s = 'x', i = 999;", 1,
      "SELECT i FROM mytable WHERE s = 'x'", Seq(Seq(999)))
    writeCheck("INSERT INTO mytable SET i = 999, s = 'x';", 1,
      "SELECT i FROM mytable WHERE s = 'x'", Seq(Seq(999)))
    // string value coerces to the BIGINT column (Convert-on-write)
    writeCheck("INSERT INTO mytable (i, s) VALUES ('42', 'coerced');", 1,
      "SELECT i FROM mytable WHERE s = 'coerced'", Seq(Seq(42)))
  }

  test("UPDATE with a subquery over a keyless table; UPDATE JOIN with " +
      "capitalized table names (update_queries.go:682,697)") {
    engine.runScript(
      """create table ukl (i int);
        |insert into ukl values (1);
        |update ukl set i = 10 where i in (select 1);
        |""".stripMargin)
    assert(engine.query("select * from ukl").collect()(0).getInt(0) == 10)
    engine.query("drop table ukl")
    engine.runScript(
      """create table Items (ItemID char(38) NOT NULL primary key, Version int);
        |insert into Items values ('1234', 1);
        |create table Items2 (ItemID char(38) NOT NULL primary key, Version int);
        |insert into Items2 values ('1234', 2);
        |UPDATE Items INNER JOIN Items2 ON (Items.ItemID = Items2.ItemID) SET Items.Version = Items2.Version WHERE Items.Version != Items2.Version;
        |""".stripMargin)
    val r = engine.query("select * from Items").collect()(0)
    assert(r.getString(0) == "1234" && r.getInt(1) == 2)
    engine.runScript("drop table Items; drop table Items2;")
  }

  test("numeric boundary values round-trip through INSERT then DELETE " +
      "WHERE on the exact literal (numeric_error_queries.go; " +
      "DECIMAL(65,30) is pinned DIVERGENCE: Spark caps precision at 38, " +
      "so the fixture runs at (38,10))") {
    def one(sql: String): Seq[Seq[Any]] =
      engine.query(sql).collect().toSeq.map(_.toSeq)
    engine.runScript(
      """create table nbf (a int primary key, b double);
        |insert into nbf values (1, -4e+212);
        |create table nbd (a int, b decimal(38,10), primary key(a));
        |insert into nbd values (1, 9999999999999999999999999.9999999999);
        |create table nbi8 (i tinyint primary key);
        |create table nbi16 (i smallint primary key);
        |create table nbi32 (i int primary key);
        |create table nbi64 (i bigint primary key);
        |create table nbu64 (i bigint unsigned primary key);
        |insert into nbi8 values (127);
        |insert into nbi16 values (32767);
        |insert into nbi32 values (2147483647);
        |insert into nbi64 values (9223372036854775807);
        |insert into nbu64 values (18446744073709551615);
        |""".stripMargin)
    assert(one("delete from nbf where a = 1 and b = -4e+212") == Seq(Seq(1L)))
    assert(one(
      "delete from nbd where a = 1 and b = 9999999999999999999999999.9999999999")
      == Seq(Seq(1L)))
    assert(one("delete from nbi8 where i = 127") == Seq(Seq(1L)))
    assert(one("delete from nbi16 where i = 32767") == Seq(Seq(1L)))
    assert(one("delete from nbi32 where i = 2147483647") == Seq(Seq(1L)))
    assert(one("delete from nbi64 where i = 9223372036854775807") ==
      Seq(Seq(1L)))
    assert(one("delete from nbu64 where i = 18446744073709551615") ==
      Seq(Seq(1L)))
    Seq("nbf", "nbd", "nbi8", "nbi16", "nbi32", "nbi64", "nbu64")
      .foreach { t =>
        assert(one(s"select count(*) from $t") == Seq(Seq(0L)), t)
        engine.query(s"drop table $t")
      }
  }

  test("explicit DEFAULT tokens in VALUES (insert_queries.go:1373,1471)") {
    engine.runScript(
      """CREATE TABLE ed3 (a int DEFAULT '1', b int default (2 * a));
        |INSERT INTO ed3 (a) values (DEFAULT), ('2'), (DEFAULT);""".stripMargin)
    assert(engine.query("SELECT b from ed3 order by b asc").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 2, 4))
    // DEFAULT means default, NULL means null, in the same tuple
    engine.runScript(
      """CREATE TABLE ed4 (c0 varchar(10) null default 'c0', c1 varchar(10) null default 'c1');
        |INSERT INTO ed4 (c1, c0) values (DEFAULT, NULL);""".stripMargin)
    assert(engine.query("select * from ed4").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq((null, "c1")))
    // column-referencing default applied over the tuple's final values
    engine.runScript(
      """CREATE TABLE ed1 (a int default 1, b int default (a+1));
        |INSERT INTO ed1 (a,b) values (1, DEFAULT);
        |INSERT INTO ed1 values (2, DEFAULT);
        |INSERT INTO ed1 (b,a) values (DEFAULT, 3);""".stripMargin)
    assert(engine.query("select * from ed1 order by a").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2), (2, 3), (3, 4)))
    engine.runScript("drop table ed1; drop table ed3; drop table ed4")
  }
}
