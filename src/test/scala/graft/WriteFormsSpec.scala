package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every write form against every failure class it can meet: REPLACE
  * INTO, LOAD DATA … REPLACE, INSERT … ON DUPLICATE KEY UPDATE (its new
  * rows and its updated rows) and strict UPDATE / INSERT each raise
  * MySQL's error, leaving the table as it was, or give MySQL's result.
  * The forms share one write pipeline (Engine.imageInsert /
  * Engine.checkInsert, Dml.RowImage / Dml.checkUpdate), so each row
  * below is the plain INSERT or UPDATE result of the same values.
  */
class WriteFormsSpec extends AnyFunSuite {
  import SparkSpec.spark

  private def rows(e: Engine, sql: String): Seq[Seq[String]] =
    e.query(sql).collect().toSeq.map(_.toSeq.map(String.valueOf))

  private def warnCodes(e: Engine): Seq[Int] =
    e.query("SHOW WARNINGS").collect().map(_.getInt(1)).toSeq

  /** One case: over the tables of `shapes`, `stmt` must raise an error
    * whose message holds `code` and leave `table` as it was. */
  private final case class Rejects(name: String, stmt: String, code: String, table: String)

  private val shapes =
    """CREATE TABLE wf_chk (id INT PRIMARY KEY, v INT, CHECK (v < 10));
      |INSERT INTO wf_chk VALUES (1, 1);
      |CREATE TABLE wf_s (id INT PRIMARY KEY, s VARCHAR(3) NOT NULL);
      |INSERT INTO wf_s VALUES (1, 'a');
      |CREATE TABLE wf_t (id INT PRIMARY KEY, t TINYINT);
      |INSERT INTO wf_t VALUES (1, 1);
      |CREATE TABLE wf_i (id INT PRIMARY KEY, v INT);
      |INSERT INTO wf_i VALUES (1, 1), (2, 2);
      |CREATE TABLE wf_d (id INT PRIMARY KEY, d DATE);
      |INSERT INTO wf_d VALUES (1, '2020-01-01');
      |CREATE TABLE wf_j (id INT PRIMARY KEY, j JSON);
      |INSERT INTO wf_j VALUES (1, '{"a": 1}');
      |CREATE TABLE wf_p (id INT PRIMARY KEY);
      |INSERT INTO wf_p VALUES (1);
      |CREATE TABLE wf_c (id INT PRIMARY KEY, p INT, FOREIGN KEY (p) REFERENCES wf_p (id));
      |INSERT INTO wf_c VALUES (1, 1)""".stripMargin

  private val rejects = Seq(
    Rejects("REPLACE: CHECK", "REPLACE INTO wf_chk VALUES (1, 50)", "3819", "wf_chk"),
    Rejects("REPLACE: VARCHAR too long", "REPLACE INTO wf_s VALUES (1, 'abcdef')", "1406", "wf_s"),
    Rejects("REPLACE: TINYINT out of range", "REPLACE INTO wf_t VALUES (1, 1000)", "1264", "wf_t"),
    Rejects("REPLACE: failed INT conversion", "REPLACE INTO wf_i VALUES (1, 'abc')", "1366", "wf_i"),
    Rejects("REPLACE: bad DATE", "REPLACE INTO wf_d VALUES (1, 'badtime')", "1292", "wf_d"),
    Rejects("REPLACE: malformed JSON", "REPLACE INTO wf_j VALUES (1, '{bad')", "3140", "wf_j"),
    Rejects("ODKU new row: CHECK",
      "INSERT INTO wf_chk VALUES (2, 50) ON DUPLICATE KEY UPDATE v = 2", "3819", "wf_chk"),
    Rejects("ODKU new row: VARCHAR too long",
      "INSERT INTO wf_s VALUES (2, 'abcdef') ON DUPLICATE KEY UPDATE s = 'b'", "1406", "wf_s"),
    Rejects("ODKU new row: NULL into NOT NULL",
      "INSERT INTO wf_s VALUES (2, NULL) ON DUPLICATE KEY UPDATE s = 'b'", "1048", "wf_s"),
    Rejects("ODKU new row: TINYINT out of range",
      "INSERT INTO wf_t VALUES (2, 1000) ON DUPLICATE KEY UPDATE t = 2", "1264", "wf_t"),
    Rejects("ODKU new row: orphan FK child",
      "INSERT INTO wf_c VALUES (2, 9) ON DUPLICATE KEY UPDATE p = 1", "1452", "wf_c"),
    Rejects("ODKU update: duplicate PRIMARY key",
      "INSERT INTO wf_i VALUES (1, 0) ON DUPLICATE KEY UPDATE id = 2", "1062", "wf_i"),
    Rejects("ODKU update: TINYINT out of range",
      "INSERT INTO wf_t VALUES (1, 0) ON DUPLICATE KEY UPDATE t = 1000", "1264", "wf_t"),
    Rejects("ODKU update: VARCHAR too long",
      "INSERT INTO wf_s VALUES (1, 'x') ON DUPLICATE KEY UPDATE s = 'abcdef'", "1406", "wf_s"),
    Rejects("ODKU update: NULL into NOT NULL",
      "INSERT INTO wf_s VALUES (1, 'x') ON DUPLICATE KEY UPDATE s = NULL", "1048", "wf_s"),
    Rejects("strict UPDATE: failed INT conversion",
      "UPDATE wf_i SET v = 'abc' WHERE id = 1", "1366", "wf_i"),
    Rejects("strict UPDATE: NULL into NOT NULL",
      "UPDATE wf_s SET s = NULL WHERE id = 1", "1048", "wf_s"),
    Rejects("strict UPDATE: VARCHAR too long",
      "UPDATE wf_s SET s = 'abcdef' WHERE id = 1", "1406", "wf_s"),
    Rejects("strict INSERT: failed INT conversion",
      "INSERT INTO wf_i VALUES (3, 'abc')", "1366", "wf_i"))

  rejects.foreach { c =>
    test(s"${c.name} raises ${c.code} and writes nothing") {
      // on a driver-held table and again with the broadcast budget off
      // (the frame path)
      Seq(None, Some("-1")).foreach { budget =>
        val s2 = spark.newSession()
        budget.foreach(s2.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
        val e = new Engine(s2)
        e.runScript(shapes)
        val before = rows(e, s"SELECT * FROM ${c.table} ORDER BY id")
        val ex = intercept[Exception](e.query(c.stmt).collect())
        assert(ex.getMessage.contains(c.code), s"${c.stmt}: ${ex.getMessage}")
        assert(rows(e, s"SELECT * FROM ${c.table} ORDER BY id") == before, c.stmt)
      }
    }
  }

  private def engine(): Engine = {
    val e = new Engine(spark.newSession())
    e.runScript(shapes)
    e
  }

  test("REPLACE deletes the row it collides with on a UNIQUE key and counts it") {
    val e = engine()
    e.runScript("CREATE TABLE wf_u (id INT PRIMARY KEY, u INT UNIQUE); INSERT INTO wf_u VALUES (1, 1)")
    assert(rows(e, "REPLACE INTO wf_u VALUES (2, 1)") == Seq(Seq("2")))
    assert(rows(e, "SELECT * FROM wf_u ORDER BY id") == Seq(Seq("2", "1")))
  }

  test("LOAD DATA … REPLACE deletes the row it collides with on a UNIQUE key") {
    val e = engine()
    e.runScript("CREATE TABLE wf_lu (id INT PRIMARY KEY, u INT UNIQUE); INSERT INTO wf_lu VALUES (1, 1)")
    val f = java.nio.file.Files.createTempFile("graft_wf", ".csv")
    try {
      java.nio.file.Files.write(f, "2,1\n".getBytes("UTF-8"))
      e.query(s"LOAD DATA INFILE '$f' REPLACE INTO TABLE wf_lu FIELDS TERMINATED BY ','").collect()
      assert(rows(e, "SELECT * FROM wf_lu ORDER BY id") == Seq(Seq("2", "1")))
    } finally java.nio.file.Files.delete(f)
  }

  test("REPLACE and ODKU's new rows advance AUTO_INCREMENT like INSERT") {
    val e = engine()
    Seq("REPLACE INTO wf_ai VALUES (2, 1)",
        "INSERT INTO wf_ai VALUES (2, 1) ON DUPLICATE KEY UPDATE v = 9").foreach { sql =>
      e.runScript(
        """DROP TABLE IF EXISTS wf_ai;
          |CREATE TABLE wf_ai (id INT AUTO_INCREMENT PRIMARY KEY, v INT);
          |INSERT INTO wf_ai (v) VALUES (0)""".stripMargin)
      e.query(sql).collect()
      e.query("INSERT INTO wf_ai (v) VALUES (2)").collect()
      assert(rows(e, "SELECT id, v FROM wf_ai ORDER BY id") ==
        Seq(Seq("1", "0"), Seq("2", "1"), Seq("3", "2")), sql)
    }
  }

  test("INSERT IGNORE … ODKU skips a CHECK-violating new row with warning 1105") {
    val e = engine()
    assert(rows(e, "INSERT IGNORE INTO wf_chk VALUES (2, 50) ON DUPLICATE KEY UPDATE v = 2") ==
      Seq(Seq("0")))
    assert(warnCodes(e) == Seq(1105))
    assert(rows(e, "SELECT * FROM wf_chk ORDER BY id") == Seq(Seq("1", "1")))
  }

  test("ODKU's update phase fires BEFORE UPDATE triggers") {
    val e = engine()
    e.runScript(
      """CREATE TABLE wf_trg (id INT PRIMARY KEY, v INT, w INT);
        |INSERT INTO wf_trg VALUES (1, 1, 0);
        |CREATE TRIGGER wf_trg_bu BEFORE UPDATE ON wf_trg FOR EACH ROW SET NEW.w = NEW.v * 10""".stripMargin)
    assert(rows(e, "INSERT INTO wf_trg VALUES (1, 0, 0) ON DUPLICATE KEY UPDATE v = 3") ==
      Seq(Seq("2")))
    assert(rows(e, "SELECT * FROM wf_trg") == Seq(Seq("1", "3", "30")))
  }

  test("INSERT IGNORE skips a duplicate VARBINARY primary key in the batch and against a stored row") {
    val e = engine()
    e.runScript("CREATE TABLE wf_b (id VARBINARY(16) PRIMARY KEY, v INT); INSERT INTO wf_b VALUES (x'01', 1)")
    assert(rows(e, "INSERT IGNORE INTO wf_b VALUES (x'01', 2), (x'02', 3), (x'02', 4)") == Seq(Seq("1")))
    assert(warnCodes(e) == Seq(1062, 1062))
    assert(rows(e, "SELECT HEX(id), v FROM wf_b ORDER BY id") == Seq(Seq("01", "1"), Seq("02", "3")))
  }

  test("REPLACE keeps the last row of a duplicate VARBINARY key in the batch") {
    val e = engine()
    e.runScript("CREATE TABLE wf_rb (id VARBINARY(16) PRIMARY KEY, v INT); INSERT INTO wf_rb VALUES (x'01', 1)")
    e.query("REPLACE INTO wf_rb VALUES (x'02', 1), (x'02', 2), (x'01', 9)").collect()
    assert(rows(e, "SELECT HEX(id), v FROM wf_rb ORDER BY id") == Seq(Seq("01", "9"), Seq("02", "2")))
  }

  test("UPDATE IGNORE keeps a row whose new VARBINARY key collides, with warning 1062") {
    val e = engine()
    e.runScript("CREATE TABLE wf_ub (id VARBINARY(16) PRIMARY KEY, v INT); INSERT INTO wf_ub VALUES (x'01', 1), (x'02', 2)")
    e.query("UPDATE IGNORE wf_ub SET id = x'01' WHERE v = 2").collect()
    assert(warnCodes(e) == Seq(1062))
    assert(rows(e, "SELECT HEX(id), v FROM wf_ub ORDER BY id") == Seq(Seq("01", "1"), Seq("02", "2")))
  }

  test("INSERT IGNORE visits rows in batch order: a skipped row frees its other keys") {
    // (2, 1) collides on u with (1, 1) and is skipped, so (2, 2) takes id 2
    val e = engine()
    e.runScript("CREATE TABLE wf_ku (id INT PRIMARY KEY, u INT UNIQUE)")
    assert(rows(e, "INSERT IGNORE INTO wf_ku VALUES (1, 1), (2, 1), (2, 2)") == Seq(Seq("2")))
    assert(warnCodes(e) == Seq(1062))
    assert(rows(e, "SELECT * FROM wf_ku ORDER BY id") == Seq(Seq("1", "1"), Seq("2", "2")))
  }

  test("INSERT IGNORE brings only colliding rows to the driver, and fails past its gate") {
    val e = new Engine(spark.newSession())
    e.runScript("CREATE TABLE wf_big (id BIGINT PRIMARY KEY)")
    val n = Engine.DriverVisitRows + 10
    assert(e.insertDf("wf_big", e.spark.range(n).toDF("id"), fillMissing = false, ignoreDups = true) == n)
    val ex = intercept[IllegalArgumentException](
      e.insertDf("wf_big", e.spark.range(n).toDF("id"), fillMissing = false, ignoreDups = true))
    assert(ex.getMessage.contains("driver gate"), ex.getMessage)
    assert(rows(e, "SELECT COUNT(*) FROM wf_big") == Seq(Seq(n.toString)))
  }

  test("a strict failure quotes the value of the first row that fails") {
    val e = engine()
    val ins = intercept[Exception](e.query("INSERT INTO wf_i VALUES (3, 'abc'), (4, 'zzz')").collect())
    assert(ins.getMessage.contains("'abc'"), ins.getMessage)
    val upd = intercept[Exception](e.query("UPDATE wf_i SET v = CONCAT('x', id)").collect())
    assert(upd.getMessage.contains("'x1'"), upd.getMessage)
  }
}
