package graft

import org.scalatest.funsuite.AnyFunSuite

/** A table's declared definition lives in one entry (`Engine.tables`,
  * `TableDef` with one `ColumnDef` per column), so each lifecycle
  * operation — DROP, RENAME TABLE, RENAME/DROP COLUMN, CREATE … LIKE,
  * CREATE TEMPORARY TABLE's shadow, a `SELECT *` view — carries or drops
  * every declared attribute together. Each case runs its script on a
  * fresh engine and checks MySQL's result.
  */
class TableDefSpec extends AnyFunSuite {
  import SparkSpec.spark

  private sealed trait Step
  /** `sql` returns `rows` (each value as `String.valueOf`). */
  private final case class Gives(sql: String, rows: Seq[Seq[String]]) extends Step
  /** `sql` raises an error whose message holds `code`. */
  private final case class Fails(sql: String, code: String) extends Step
  /** Column `i` of `sql`'s rows is `values`. */
  private final case class Column(sql: String, i: Int, values: Seq[String]) extends Step
  /** SHOW CREATE TABLE `table` holds each of `has` and none of `hasNot`. */
  private final case class Shows(table: String, has: Seq[String],
      hasNot: Seq[String] = Nil) extends Step

  /** One case: `script` (with `$FILE` naming a file holding `file`),
    * then `steps` in order. */
  private final case class Case(name: String, script: String, steps: Seq[Step],
      file: String = "")

  private val stamp = "CASE WHEN YEAR(ts) = 2000 THEN 'kept' ELSE 'stamped' END"

  private val cases = Seq(
    Case("DROP TABLE drops the definition: a re-created table keeps none of it",
      """CREATE TABLE td1 (id INT PRIMARY KEY, j JSON, ts DATETIME ON UPDATE CURRENT_TIMESTAMP, v INT);
        |DROP TABLE td1;
        |CREATE TABLE td1 (id INT PRIMARY KEY, j TEXT, ts DATETIME, v INT);
        |INSERT INTO td1 VALUES (1, 'not json', '2000-01-01 00:00:00', 1);
        |UPDATE td1 SET v = 2""".stripMargin,
      Seq(Gives(s"SELECT j, $stamp FROM td1", Seq(Seq("not json", "kept"))),
        Shows("td1", Seq("`j` text"), Seq("json", "ON UPDATE")))),
    Case("DROP COLUMN drops the column's definition: a re-added column keeps none of it",
      """CREATE TABLE td2 (id INT PRIMARY KEY, y YEAR, j JSON, ts DATETIME ON UPDATE CURRENT_TIMESTAMP, v INT);
        |ALTER TABLE td2 DROP COLUMN y;
        |ALTER TABLE td2 DROP COLUMN j;
        |ALTER TABLE td2 DROP COLUMN ts;
        |ALTER TABLE td2 ADD COLUMN y INT;
        |ALTER TABLE td2 ADD COLUMN j TEXT;
        |ALTER TABLE td2 ADD COLUMN ts DATETIME;
        |INSERT INTO td2 (id, v, y, j, ts) VALUES (1, 1, 5, 'not json', '2000-01-01 00:00:00');
        |UPDATE td2 SET v = 2""".stripMargin,
      Seq(Gives(s"SELECT y, j, $stamp FROM td2", Seq(Seq("5", "not json", "kept"))),
        Shows("td2", Seq("`y` int", "`j` text"), Seq("year", "json", "ON UPDATE")))),
    Case("RENAME TABLE moves the whole definition, YEAR and triggers included",
      """CREATE TABLE p3 (id INT PRIMARY KEY, y YEAR, v INT);
        |CREATE TRIGGER p3_bu BEFORE UPDATE ON p3 FOR EACH ROW SET NEW.v = NEW.v + 100;
        |RENAME TABLE p3 TO p3b;
        |INSERT INTO p3b VALUES (1, 5, 1);
        |UPDATE p3b SET v = 3""".stripMargin,
      Seq(Gives("SELECT y, v FROM p3b", Seq(Seq("2005", "103"))),
        Shows("p3b", Seq("`y` year")))),
    Case("RENAME COLUMN keeps ON UPDATE and YEAR",
      """CREATE TABLE td4 (id INT PRIMARY KEY, ts DATETIME ON UPDATE CURRENT_TIMESTAMP, y YEAR, v INT);
        |INSERT INTO td4 VALUES (1, '2000-01-01 00:00:00', 2001, 1);
        |ALTER TABLE td4 RENAME COLUMN ts TO ts2;
        |ALTER TABLE td4 RENAME COLUMN y TO y2;
        |UPDATE td4 SET v = 2;
        |INSERT INTO td4 VALUES (2, '2000-01-01 00:00:00', 5, 1)""".stripMargin,
      Seq(Gives(s"SELECT ${stamp.replace("ts", "ts2")}, y2 FROM td4 ORDER BY id",
          Seq(Seq("stamped", "2001"), Seq("kept", "2005"))),
        Shows("td4", Seq("ON UPDATE CURRENT_TIMESTAMP", "`y2` year")))),
    Case("CREATE TABLE … LIKE copies UNSIGNED, ON UPDATE, YEAR and JSON",
      """CREATE TABLE td5 (id INT PRIMARY KEY, u BIGINT UNSIGNED, ts DATETIME ON UPDATE CURRENT_TIMESTAMP, y YEAR, j JSON, v INT);
        |CREATE TABLE td5b LIKE td5""".stripMargin,
      Seq(Fails("INSERT INTO td5b (id, u) VALUES (1, -1)", "1264"),
        Fails("INSERT INTO td5b (id, j) VALUES (2, 'bad')", "3140"),
        Gives("INSERT INTO td5b VALUES (3, 1, '2000-01-01 00:00:00', 5, '{}', 1)", Seq(Seq("1"))),
        Gives("UPDATE td5b SET v = 2", Seq(Seq("1"))),
        Gives(s"SELECT y, $stamp FROM td5b", Seq(Seq("2005", "stamped"))),
        Shows("td5b", Seq("unsigned", "ON UPDATE CURRENT_TIMESTAMP", "`y` year", "`j` json")))),
    Case("DROP of a temporary table brings the shadowed base back with its definition",
      """CREATE TABLE td6 (id INT PRIMARY KEY, s VARCHAR(3));
        |INSERT INTO td6 VALUES (1, 'a');
        |CREATE TEMPORARY TABLE td6 (s TEXT);
        |DROP TABLE td6""".stripMargin,
      Seq(Fails("INSERT INTO td6 VALUES (2, 'abcdef')", "1406"),
        Gives("SELECT * FROM td6", Seq(Seq("1", "a"))),
        Shows("td6", Seq("`s` varchar(3)", "PRIMARY KEY")))),
    Case("a failed CREATE TEMPORARY TABLE leaves the base with its definition",
      "CREATE TABLE pb (id INT PRIMARY KEY, s VARCHAR(3))",
      Seq(Fails("CREATE TEMPORARY TABLE pb (s VARCHAR(3), s INT)", "1060"),
        Fails("INSERT INTO pb VALUES (2, 'abcdef')", "1406"),
        Shows("pb", Seq("`s` varchar(3)", "PRIMARY KEY")))),
    Case("a failed CREATE TEMPORARY TABLE over a temporary table leaves it with its definition",
      """CREATE TABLE pbt (id INT PRIMARY KEY, s VARCHAR(3));
        |CREATE TEMPORARY TABLE pbt (id INT PRIMARY KEY, s VARCHAR(4))""".stripMargin,
      Seq(Fails("CREATE TEMPORARY TABLE pbt (s VARCHAR(3), s INT)", "1060"),
        Fails("INSERT INTO pbt VALUES (2, 'abcdef')", "1406"),
        Shows("pbt", Seq("`s` varchar(4)", "PRIMARY KEY")))),
    Case("CHANGE rebuilds the column's definition from the new type",
      """CREATE TABLE pc (id INT PRIMARY KEY, y YEAR, j JSON, s VARCHAR(3));
        |ALTER TABLE pc CHANGE y y INT;
        |ALTER TABLE pc CHANGE j j TEXT;
        |ALTER TABLE pc CHANGE s s2 VARCHAR(10)""".stripMargin,
      Seq(Gives("INSERT INTO pc VALUES (1, 5, 'not json', 'abcdefgh')", Seq(Seq("1"))),
        Fails("INSERT INTO pc VALUES (2, 5, 'x', 'abcdefghijk')", "1406"),
        Gives("SELECT y, j, s2 FROM pc", Seq(Seq("5", "not json", "abcdefgh"))),
        Shows("pc", Seq("`y` int", "`j` text", "`s2` varchar(10)"),
          Seq("year", "json", "varchar(3)")))),
    Case("a renamed column keeps its index prefix length",
      """CREATE TABLE pcp (id INT PRIMARY KEY, b TEXT, KEY kb (b(4)));
        |ALTER TABLE pcp CHANGE b b2 TEXT;
        |ALTER TABLE pcp RENAME COLUMN b2 TO b3""".stripMargin,
      Seq(Shows("pcp", Seq("`b3`(4)")))),
    Case("MODIFY rebuilds the column's definition from the new type",
      """CREATE TABLE pm (id INT PRIMARY KEY, y YEAR, j JSON);
        |ALTER TABLE pm MODIFY y INT;
        |ALTER TABLE pm MODIFY j TEXT""".stripMargin,
      Seq(Gives("INSERT INTO pm VALUES (1, 5, 'not json')", Seq(Seq("1"))),
        Gives("SELECT y, j FROM pm", Seq(Seq("5", "not json"))),
        Shows("pm", Seq("`y` int", "`j` text"), Seq("year", "json")))),
    Case("a SELECT * view describes its source's declared types",
      """CREATE TABLE td7 (id INT PRIMARY KEY, y YEAR, j JSON);
        |CREATE VIEW td7v AS SELECT * FROM td7""".stripMargin,
      Seq(Column("DESCRIBE td7v", 1, Seq("int", "year", "json")))),
    Case("BEFORE INSERT triggers fire",
      """CREATE TABLE tdt (id INT PRIMARY KEY, v INT, w INT);
        |CREATE TRIGGER tdt_bi BEFORE INSERT ON tdt FOR EACH ROW SET NEW.w = 9;
        |INSERT INTO tdt VALUES (2, 2, 0)""".stripMargin,
      Seq(Gives("SELECT * FROM tdt", Seq(Seq("2", "2", "9"))))),
    Case("strict LOAD DATA raises 1366 for a field its column cannot convert",
      "CREATE TABLE tdl (id INT PRIMARY KEY, v INT)",
      Seq(Fails("LOAD DATA INFILE '$FILE' INTO TABLE tdl FIELDS TERMINATED BY ','", "1366"),
        Gives("SELECT COUNT(*) FROM tdl", Seq(Seq("0")))),
      file = "1,abc\n"),
    Case("ON DUPLICATE KEY UPDATE counts 0 for an unchanged row, 2 for a changed one, 1 for an insert",
      "CREATE TABLE tdo (id INT PRIMARY KEY, v INT); INSERT INTO tdo VALUES (1, 1)",
      Seq(Gives("INSERT INTO tdo VALUES (1, 1) ON DUPLICATE KEY UPDATE v = v", Seq(Seq("0"))),
        Gives("INSERT INTO tdo VALUES (1, 5) ON DUPLICATE KEY UPDATE v = 1", Seq(Seq("0"))),
        Gives("INSERT INTO tdo VALUES (1, 5) ON DUPLICATE KEY UPDATE v = 7", Seq(Seq("2"))),
        Gives("INSERT INTO tdo VALUES (2, 5) ON DUPLICATE KEY UPDATE v = 7", Seq(Seq("1"))),
        Gives("SELECT * FROM tdo ORDER BY id", Seq(Seq("1", "7"), Seq("2", "5"))))),
    Case("DROP TEMPORARY TABLE drops the temporary table and brings the base back",
      """CREATE TABLE tdx (id INT PRIMARY KEY, s VARCHAR(3));
        |INSERT INTO tdx VALUES (1, 'a');
        |CREATE TEMPORARY TABLE tdx (s TEXT);
        |DROP TEMPORARY TABLE tdx;
        |DROP TEMPORARY TABLE IF EXISTS tdx_absent""".stripMargin,
      Seq(Gives("SELECT * FROM tdx", Seq(Seq("1", "a"))),
        Fails("INSERT INTO tdx VALUES (1, 'b')", "1062"))))

  private def rows(e: Engine, sql: String): Seq[Seq[String]] =
    e.query(sql).collect().toSeq.map(_.toSeq.map(String.valueOf))

  cases.foreach { c =>
    test(c.name) {
      val e = new Engine(spark.newSession())
      val f = java.nio.file.Files.createTempFile("graft_td", ".csv")
      try {
        java.nio.file.Files.write(f, c.file.getBytes("UTF-8"))
        def sub(sql: String) = sql.replace("$FILE", f.toString)
        e.runScript(sub(c.script)).foreach(_.collect())
        c.steps.foreach {
          case Gives(sql, want) => assert(rows(e, sub(sql)) == want, sql)
          case Fails(sql, code) =>
            val ex = intercept[Exception](e.query(sub(sql)).collect())
            assert(ex.getMessage.contains(code), s"$sql: ${ex.getMessage}")
          case Column(sql, i, want) => assert(rows(e, sql).map(_(i)) == want, sql)
          case Shows(table, has, hasNot) =>
            val ddl = rows(e, s"SHOW CREATE TABLE $table").head(1)
            has.foreach(h => assert(ddl.contains(h), s"$h not in $ddl"))
            hasNot.foreach(h => assert(!ddl.contains(h), s"$h in $ddl"))
        }
      } finally java.nio.file.Files.delete(f)
    }
  }
}
