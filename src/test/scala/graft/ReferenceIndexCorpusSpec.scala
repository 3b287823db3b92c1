package graft

import org.scalatest.funsuite.AnyFunSuite

/** Result-semantics port of the reference's enginetest/queries/
  * index_queries.go `ComplexIndexQueries` block (703 queries): every
  * AND/OR/BETWEEN/<>/IS NULL combination the reference's index-scan
  * builder is fuzz-tested with, run over the same comp_index_t0/t1/t2
  * fixtures (101 rows each, from scriptgen/setup/setup_data.sg.go)
  * and compared against the reference's expected rows.
  *
  * The corpus is read AT TEST TIME from the reference tree and parsed
  * as data — queries and expected rows never enter this repo. Only the
  * three `ComplexIndexQueries over comp_index_tN` tests read it: they
  * cancel, naming the missing file, where setup_data.sg.go or
  * index_queries.go is absent. The comp_index_t3 blob test and the
  * IndexPrefixQueries tests below are hand-ported (they create and
  * drop their own tables) and run on every machine. The
  * reference asserts these queries exercise index range-scan merging;
  * Catalyst plans them as predicate filters over the scan, so the
  * portable contract is the result set (unordered — the reference's
  * expected order is its index iteration order, explicitly not part
  * of the result contract). Plan-shape assertions
  * (index_query_plans.go) are diagnostics of the reference's memo and
  * are documented non-portable.
  */
class ReferenceIndexCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark

  private lazy val engine = new Engine(spark)

  private val setupPath =
    "/root/reference/enginetest/scriptgen/setup/setup_data.sg.go"
  private val queriesPath =
    "/root/reference/enginetest/queries/index_queries.go"

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)

  /** Go backtick strings mentioning the comp_index fixtures, in order:
    * CREATE TABLE / create INDEX / INSERT for t0..t2. */
  private lazy val setupDone: Boolean = {
    val stmts = "`([^`]+)`".r.findAllMatchIn(read(setupPath))
      .map(_.group(1)).toSeq
      .filter(s => s.toLowerCase.contains("comp_index_t"))
      .filterNot(_.toLowerCase.contains("comp_index_t3")) // blob fixture ported by hand below
    stmts.foreach(s => engine.query(s.stripSuffix(";")))
    true
  }

  /** (query, expected rows) pairs parsed from the ComplexIndexQueries
    * var. Only the all-BIGINT fixtures — the two comp_index_t3 blob
    * queries are hand-ported in their own test. */
  private lazy val corpus: Seq[(String, Seq[Seq[Long]])] = {
    val src = read(queriesPath)
    val start = src.indexOf("var ComplexIndexQueries")
    val end = src.indexOf("var IndexPrefixQueries")
    require(start >= 0 && end > start, "reference corpus block not found")
    val block = src.substring(start, end)
    val entry =
      "(?s)Query:\\s+`([^`]+)`,\\s*\\n\\s*Expected:\\s+\\[\\]sql\\.Row\\{(.*?)\\},\\n\\t\\}".r
    // rows appear both as `sql.Row{...}` and bare `{...}` literals
    val row = "\\{([^{}]*)\\}".r
    entry.findAllMatchIn(block)
      .filterNot(_.group(1).contains("comp_index_t3"))
      .map { m =>
        val rows = row.findAllMatchIn(m.group(2).replace("sql.Row", ""))
          .map { r =>
            r.group(1).split(",").map(_.trim).filter(_.nonEmpty)
              .map(_.toLong).toSeq
          }.toSeq.filter(_.nonEmpty)
        (m.group(1).trim.stripSuffix(";"), rows)
      }.toSeq
  }

  private def runOne(sql: String): Seq[Seq[Long]] =
    engine.query(sql).collect()
      .map(r => (0 until r.length).map(r.getLong).toSeq).toSeq

  private def canon(rows: Seq[Seq[Long]]): Seq[Seq[Long]] =
    rows.sortBy(_.mkString(","))

  for (t <- Seq("comp_index_t0", "comp_index_t1", "comp_index_t2")) {
    test(s"ComplexIndexQueries over $t match the reference row sets") {
      GoCorpus.assumePresent(setupPath, queriesPath)
      assert(setupDone)
      val qs = corpus.filter(_._1.contains(t))
      assert(qs.size > 100, s"parsed only ${qs.size} queries for $t")
      val failures = qs.flatMap { case (q, want) =>
        val got = canon(runOne(q))
        if (got == canon(want)) None
        else Some(s"$q\n  got ${got.size} rows, want ${want.size}")
      }
      assert(failures.isEmpty,
        s"${failures.size}/${qs.size} mismatches; first: " +
          failures.take(3).mkString("\n"))
    }
  }

  test("comp_index_t3 blob prefix-index fixture: equality and LIKE over " +
      "blob values (index_queries.go:2828-2843)") {
    engine.query("CREATE TABLE comp_index_t3 (pk BIGINT PRIMARY KEY, " +
      "v1 BLOB, v2 BLOB)")
    engine.query("create INDEX v_idx on comp_index_t3 (v1(3))")
    engine.query("INSERT INTO comp_index_t3 VALUES (0, 'a', 'a'), " +
      "(1, 'ab', 'ab'), (2, 'abc', 'abc'), (3, 'abcde', 'abcde')")
    def asStr(sql: String): Seq[(Long, String, String)] =
      engine.query(sql).collect().map { r =>
        def s(i: Int): String = r.get(i) match {
          case b: Array[Byte] => new String(b, "UTF-8")
          case o => String.valueOf(o)
        }
        (r.getLong(0), s(1), s(2))
      }.toSeq.sortBy(_._1)
    assert(asStr("select * from comp_index_t3 where v2 = 'a'") ==
      Seq((0L, "a", "a")))
    assert(asStr("select * from comp_index_t3 where v2 like 'a%'") ==
      Seq((0L, "a", "a"), (1L, "ab", "ab"), (2L, "abc", "abc"),
        (3L, "abcde", "abcde")))
    engine.query("drop table comp_index_t3")
  }
  // ---- IndexPrefixQueries port (index_queries.go:2845-4222): prefix
  //      key-part validation, prefix UNIQUE enforcement, SHOW CREATE
  //      rendering. The reference's prefix-index range-scan plan
  //      assertions are non-portable; results + errors are the contract.

  private def err(sql: String): String =
    intercept[Exception] { engine.query(sql).collect() }
      .getMessage.toLowerCase

  test("prefix on non-string columns is ErrInvalidIndexPrefix; length 0 " +
      "is ErrKeyZero; length past the declared char limit is invalid " +
      "('int prefix' / 'float prefix' / 'string index prefix errors')") {
    engine.runScript(
      """drop table if exists ipt; drop table if exists ipf;
        |drop table if exists ipv; drop table if exists ipc;
        |create table ipt (i int);
        |create table ipf (f float);
        |create table ipv (v varchar(10));
        |create table ipc (c char(10));
        |""".stripMargin)
    for (q <- Seq(
        "alter table ipt add primary key (i(10))",
        "alter table ipt add index (i(10))",
        "create table c_tbl (i int, primary key (i(10)))",
        "create table c_tbl (i int primary key, j int, index (j(10)))",
        "alter table ipf add primary key (f(10))",
        "alter table ipf add index (f(10))",
        "create table c_tbl (f float, primary key (f(10)))",
        "create table c_tbl (i int primary key, f float, index (f(10)))",
        "alter table ipv add primary key (v(11))",
        "alter table ipv add index (v(11))",
        "alter table ipc add primary key (c(11))",
        "alter table ipc add index (c(11))",
        "create table tz (v varchar(10), primary key(v(11)))",
        "create table tz (v varchar(10), index(v(11)))",
        "create table tz (c char(10), primary key(c(11)))",
        "create table tz (c char(10), index(c(11)))"))
      assert(err(q).contains("incorrect prefix key"), q)
    for (q <- Seq(
        "alter table ipv add primary key (v(0))",
        "alter table ipv add index (v(0))",
        "create table tz (v varchar(10), primary key(v(0)))"))
      assert(err(q).contains("length cannot be 0"), q)
    engine.runScript("drop table ipt; drop table ipf; " +
      "drop table ipv; drop table ipc;")
  }

  test("prefix PRIMARY KEY on string/binary columns is " +
      "ErrUnsupportedIndexPrefix (varchar/char/varbinary/binary/blob/" +
      "text primary key prefix blocks)") {
    engine.runScript(
      """drop table if exists ipk;
        |create table ipk (v varchar(100), c char(100), vb varbinary(100),
        |  b binary(100), bl blob, t text);
        |""".stripMargin)
    for (col <- Seq("v", "c", "vb", "b", "bl", "t"))
      assert(err(s"alter table ipk add primary key ($col(10))")
        .contains("prefix index on string column"), col)
    for (ddl <- Seq(
        "create table pz (v varchar(100), primary key (v(10)))",
        "create table pz (c char(100), primary key (c(10)))",
        "create table pz (v varbinary(100), primary key (v(10)))",
        "create table pz (b binary(100), primary key (b(10)))",
        "create table pz (b blob, primary key (b(10)))",
        "create table pz (t text, primary key (t(10)))"))
      assert(err(ddl).contains("prefix index on string column"), ddl)
    engine.query("drop table ipk")
  }

  test("prefix UNIQUE enforces the substring tuple; SHOW CREATE renders " +
      "`col`(n) (varchar/char/blob/text keyed + keyless secondary " +
      "index prefix blocks)") {
    // keyed varchar: existing row processed when the index builds
    engine.runScript(
      """drop table if exists pu;
        |create table pu (i int primary key, v varchar(10));
        |insert into pu values (-1, 'zzz');
        |alter table pu add unique index (v(1));
        |""".stripMargin)
    assert(engine.showCreateTable("pu").contains(
      "UNIQUE KEY `v` (`v`(1))"))
    assert(err("insert into pu values (0, 'aa'), (1, 'ab')")
      .contains("duplicate unique key"))
    engine.query("insert into pu values (0, 'aa'), (1, 'bb'), (2, 'cc')")
    assert(engine.query("select * from pu where v = 'a'").count() == 0)
    assert(engine.query("select * from pu where v = 'aa'").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((0, "aa")))
    // existing-prefix-dup rows fail the index build and roll it back
    engine.runScript(
      """drop table if exists pv;
        |create table pv (i int primary key, v varchar(10));
        |insert into pv values (0, 'aa'), (1, 'ab');
        |""".stripMargin)
    assert(err("alter table pv add unique index (v(1))")
      .contains("duplicate unique key"))
    engine.query("insert into pv values (2, 'ac')") // no constraint left
    // keyless + blob/text variants; plain KEY prefix renders too
    engine.runScript(
      """drop table if exists pw;
        |create table pw (v varchar(10));
        |alter table pw add unique index (v(1));
        |""".stripMargin)
    assert(err("insert into pw values ('aa'), ('ab')")
      .contains("duplicate unique key"))
    engine.runScript(
      """drop table if exists pb;
        |create table pb (i int primary key, b blob);
        |insert into pb values (0, 'abcd'), (1, 'abcde');
        |alter table pb add index (b(1));
        |""".stripMargin)
    assert(engine.showCreateTable("pb").contains("KEY `b` (`b`(1))"))
    engine.query("insert into pb values (998, X'4242')")
    engine.query("alter table pb drop index `b`")
    assert(err("alter table pb add unique index (b(1))")
      .contains("duplicate unique key")) // 'abcd'/'abcde' share prefix 'a'
    engine.runScript(
      """drop table if exists pt;
        |create table pt (i int primary key, t text);
        |alter table pt add unique index (t(1));
        |insert into pt values (0, 'aa');
        |""".stripMargin)
    assert(err("insert into pt values (1, 'ab')")
      .contains("duplicate unique key"))
    engine.runScript(
      """create table pt_tbl (i int primary key, t text, index (t(10)));
        |drop table pt_tbl;
        |drop table pu; drop table pv; drop table pw; drop table pb;
        |drop table pt;""".stripMargin)
  }

  test("multi-part prefix unique index over TEXT columns: tuple " +
      "semantics through INSERT/UPDATE/DELETE " +
      "('referenced secondary indexes')") {
    engine.runScript(
      """drop table if exists rsi;
        |create table rsi (i int primary key, v1 text, v2 text,
        |  unique index (v1(3),v2(5)));
        |""".stripMargin)
    assert(engine.showCreateTable("rsi").contains(
      "UNIQUE KEY `v1` (`v1`(3),`v2`(5))"))
    engine.query("insert into rsi values (0, 'a', 'a'), (1, 'ab','ab'), " +
      "(2, 'abc', 'abc'), (3, 'abcde', 'abcde')")
    // ('abc','abcde') collides with row 3's prefix tuple ('abc','abcde')
    assert(err("insert into rsi values (99, 'abc', 'abcde')")
      .contains("duplicate unique key"))
    assert(err("insert into rsi values (99, 'abc123', 'abcde123')")
      .contains("duplicate unique key"))
    def rows3(sql: String): Seq[(Int, String, String)] =
      engine.query(sql).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1)
    assert(rows3("select * from rsi where v1 = 'a'") ==
      Seq((0, "a", "a")))
    assert(rows3("select * from rsi where v1 = 'abc'") ==
      Seq((2, "abc", "abc")))
    assert(rows3("select * from rsi where v1 = 'abcd'") == Seq.empty)
    assert(rows3("select * from rsi where v1 > 'a' and v1 < 'abcde'") ==
      Seq((1, "ab", "ab"), (2, "abc", "abc")))
    assert(rows3("select * from rsi where v1 > 'a' and v2 < 'abcde'") ==
      Seq((1, "ab", "ab"), (2, "abc", "abc")))
    // post-update v1 prefixes collide ('abcz'/'abcdez' -> 'abc') but the
    // (v1(3), v2(5)) TUPLES stay distinct -> the update must pass
    engine.query("update rsi set v1 = concat(v1, 'z') where v1 >= 'a'")
    assert(rows3("select * from rsi") == Seq((0, "az", "a"),
      (1, "abz", "ab"), (2, "abcz", "abc"), (3, "abcdez", "abcde")))
    engine.query("delete from rsi where v1 >= 'a'")
    assert(engine.query("select * from rsi").count() == 0)
    engine.query("drop table rsi")
  }

}
