package graft

import org.scalatest.funsuite.AnyFunSuite

class DialectSpec extends AnyFunSuite {
  test("LIMIT x,y becomes LIMIT y OFFSET x") {
    assert(Dialect.rewrite("SELECT 1 FROM t LIMIT 5, 10")
      == "SELECT 1 FROM t LIMIT 10 OFFSET 5")
  }
  test("plain LIMIT untouched") {
    assert(Dialect.rewrite("SELECT 1 LIMIT 10") == "SELECT 1 LIMIT 10")
  }
  test("string literals are never rewritten") {
    val q = "SELECT 'LIMIT 1, 2' AS s, \"# not a comment\" AS t FROM x LIMIT 1, 2"
    assert(Dialect.rewrite(q)
      == "SELECT 'LIMIT 1, 2' AS s, \"# not a comment\" AS t FROM x LIMIT 2 OFFSET 1")
  }
  test("# comments become -- comments") {
    assert(Dialect.rewrite("SELECT 1 # trailing\nFROM t")
      == "SELECT 1 -- trailing\nFROM t")
  }
  test("STRAIGHT_JOIN and SQL_CALC_FOUND_ROWS handled") {
    // SQL_CALC_FOUND_ROWS survives the dialect pass — the query path
    // strips it and captures the un-LIMITed twin for FOUND_ROWS()
    assert(Dialect.rewrite("SELECT SQL_CALC_FOUND_ROWS a FROM t STRAIGHT_JOIN u")
      .replaceAll("\\s+", " ").trim == "SELECT SQL_CALC_FOUND_ROWS a FROM t JOIN u")
    assert(SqlRewrite.stripCalcFoundRows(
      "SELECT SQL_CALC_FOUND_ROWS a FROM t JOIN u")._2
      .replaceAll("\\s+", " ").trim == "SELECT a FROM t JOIN u")
  }
  test("escaped quotes inside literals survive") {
    val q = "SELECT 'it''s' FROM t LIMIT 1, 2"
    assert(Dialect.rewrite(q) == "SELECT 'it''s' FROM t LIMIT 2 OFFSET 1")
  }
  test("logical XOR becomes truthiness-wrapped != ") {
    assert(Dialect.rewrite("SELECT a XOR b FROM t")
      == "SELECT ((mysql_to_number(a) <> 0) != (mysql_to_number(b) <> 0)) FROM t")
    assert(Dialect.rewrite("SELECT 'a XOR b' FROM t") == "SELECT 'a XOR b' FROM t")
  }
  test("XOR precedence: AND binds tighter, conjuncts stay in the operand") {
    // MySQL parses `a AND b XOR c` as `(a AND b) XOR c`
    assert(Dialect.rewrite("SELECT a AND b XOR c FROM t")
      == "SELECT ((mysql_to_number(a AND b) <> 0) != (mysql_to_number(c) <> 0)) FROM t")
    assert(Dialect.rewrite("SELECT a XOR b AND c FROM t")
      == "SELECT ((mysql_to_number(a) <> 0) != (mysql_to_number(b AND c) <> 0)) FROM t")
  }
  test("XOR after BETWEEN keeps the BETWEEN..AND pair whole") {
    assert(Dialect.rewrite("SELECT a BETWEEN 1 AND 2 XOR b FROM t")
      == "SELECT ((mysql_to_number(a BETWEEN 1 AND 2) <> 0) != (mysql_to_number(b) <> 0)) FROM t")
  }
  test("XOR chain rewrites every occurrence, left-associative") {
    val out = Dialect.rewrite("SELECT a XOR b XOR c FROM t")
    assert(!out.toLowerCase.contains("xor"), out)
    assert(out == "SELECT ((mysql_to_number(((mysql_to_number(a) <> 0) != (mysql_to_number(b) <> 0))) <> 0) != (mysql_to_number(c) <> 0)) FROM t")
  }
  test("XOR right operand stops at an implicit alias") {
    assert(Dialect.rewrite("SELECT a XOR b x FROM t")
      == "SELECT ((mysql_to_number(a) <> 0) != (mysql_to_number(b) <> 0)) x FROM t")
  }
  test("backslash-escaped quote does not end a literal") {
    assert(Dialect.rewrite("SELECT 'it\\'s XOR fine' FROM t LIMIT 1, 2")
      == "SELECT 'it\\'s XOR fine' FROM t LIMIT 2 OFFSET 1")
  }
}

class EngineSpec extends AnyFunSuite {
  import SparkSpec.{spark, sfDir}
  private lazy val engine = { val e = new Engine(spark); e.attachDir(sfDir); e }

  test("query with MySQL-isms end-to-end") {
    val rows = engine.query(
      """SELECT o_orderkey, o_totalprice  # top orders
         FROM orders
         WHERE o_orderkey <=> o_orderkey AND o_orderkey DIV 2 >= 0
           AND o_orderstatus REGEXP 'O|F'
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2, 3""").collect()
    assert(rows.length == 3)
  }

  test("ctas + insertIntoSelect + drop round-trip") {
    engine.ctas("big_orders", "SELECT * FROM orders WHERE o_totalprice > 400000")
    val n0 = spark.table("big_orders").count()
    assert(n0 > 0)
    engine.insertIntoSelect("big_orders",
      "SELECT * FROM orders WHERE o_totalprice <= 100000 LIMIT 5")
    assert(spark.table("big_orders").count() == n0 + 5)
    engine.drop("big_orders")
    assert(!engine.showTables().contains("big_orders"))
  }

  test("catalog reads: showTables + describe") {
    assert(engine.showTables().contains("lineitem"))
    val d = engine.describe("region").toMap
    assert(d("r_regionkey") == "int" && d("r_name") == "string")
  }

  test("SHOW CREATE TABLE renders MySQL DDL from the schema") {
    val ddl = engine.showCreateTable("region")
    assert(ddl.startsWith("CREATE TABLE `region`"))
    assert(ddl.contains("`r_regionkey` int"))
    assert(ddl.contains("`r_name` text"))
    val embDdl = engine.showCreateTable("embeddings")
    assert(embDdl.contains("`embedding` vector"))
  }

  test("explain returns a formatted plan with pushed filters") {
    val plan = engine.explain(
      "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThan(l_quantity,45"))
  }

  test("LOAD DATA INFILE + SELECT INTO OUTFILE round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toString
    // OUTFILE: dump a query as delimited text
    engine.intoOutfile(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
      s"$dir/out", fieldsTerminatedBy = "|")
    // LOAD DATA: ingest it back under FIELDS TERMINATED BY '|'
    engine.loadData("region_rt", s"$dir/out", fieldsTerminatedBy = "|")
    val back = spark.table("region_rt").collect()
    assert(back.length == 5)
    assert(back.map(_.get(1).toString).toSet ==
      spark.table("region").collect().map(_.getString(1)).toSet)
    engine.drop("region_rt")
  }

  test("LOAD DATA clause surface: ENCLOSED/ESCAPED BY, STARTING BY, IGNORE n " +
      "(load_data.go:25 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ld").toString
    val pw = new java.io.PrintWriter(s"$dir/data.txt")
    // line 1 skipped by IGNORE 1; 'noprefix' line dropped by STARTING BY;
    // quoted field contains the separator; escaped quote inside a field
    pw.print("header to skip\n" +
      "junkPRE1|\"al|pha\"|\"a\\\"b\"\n" +
      "noprefix|9|\"zz\"|\"y\"\n" +
      "PRE2|\"beta\"|\"c\"\n")
    pw.close()
    engine.query("create table ld_t (id int, name text, v text)")
    val res = engine.query(
      s"LOAD DATA INFILE '$dir/data.txt' INTO TABLE ld_t " +
      "FIELDS TERMINATED BY '|' ENCLOSED BY '\"' ESCAPED BY '\\\\' " +
      "LINES STARTING BY 'PRE' IGNORE 1 LINES").collect()
    assert(res(0).getLong(0) == 2L) // affected rows
    val got = spark.table("ld_t").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "al|pha", "a\"b"), (2, "beta", "c")))
    engine.query("drop table ld_t")
  }

  test("LOAD DATA into an existing table APPENDS; column-count mismatch " +
      "NULL-fills the tail / truncates extras (MySQL warnings 1261/1262)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lda").toString
    engine.runScript(
      """create table lda_t (id int, name text, v int);
        |insert into lda_t values (1, 'keep', 10);
        |""".stripMargin)
    // fewer file columns than the table: tail NULL-fills, rows APPEND
    val pw1 = new java.io.PrintWriter(s"$dir/short.txt")
    pw1.print("2,two\n3,three\n"); pw1.close()
    engine.query(s"LOAD DATA INFILE '$dir/short.txt' INTO TABLE lda_t " +
      "FIELDS TERMINATED BY ','")
    // more file columns: extras truncate, rows APPEND
    val pw2 = new java.io.PrintWriter(s"$dir/long.txt")
    pw2.print("4,four,40,EXTRA\n"); pw2.close()
    engine.query(s"LOAD DATA INFILE '$dir/long.txt' INTO TABLE lda_t " +
      "FIELDS TERMINATED BY ','")
    val got = spark.table("lda_t").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1, "keep", Some(10)), (2, "two", None), (3, "three", None),
      (4, "four", Some(40))))
    engine.query("drop table lda_t")
  }

  test("views: IF NOT EXISTS, explicit column list, SHOW CREATE VIEW " +
      "(view_queries.go:34,156,584)") {
    engine.query("create view if not exists v_r6 as select 2 as two")
    assert(engine.query("select * from v_r6").collect()(0).getInt(0) == 2)
    // explicit output column list renames the projection
    engine.query(
      "create view v_cols (rk, rn) as select r_regionkey, r_name from region")
    assert(engine.query("select rk, rn from v_cols order by rk limit 1")
      .collect()(0).getInt(0) == 0)
    // SHOW CREATE VIEW returns the stored definition
    val scv = engine.query("show create view v_cols").collect()(0)
    assert(scv.getString(0) == "v_cols" &&
      scv.getString(1).contains("select r_regionkey, r_name from region"))
    // nested views compose
    engine.query("create view v_nest as select rk * 2 as dbl from v_cols")
    assert(engine.query("select max(dbl) m from v_nest").collect()(0)
      .getInt(0) == 8)
    engine.query("drop view v_nest")
    engine.query("drop view v_cols")
    engine.query("drop view v_r6")
    // dropped view loses its stored definition
    intercept[Exception](engine.query("show create view v_cols"))
  }

  test("ANSI_QUOTES sql_mode + DESCRIBE (ansi_quotes_queries.go:24-80)") {
    val s2 = spark.newSession()
    val e2 = new Engine(s2)
    e2.runScript(
      """create table auctions (ai int auto_increment, id varchar(32),
        |  data varchar(100), primary key (ai));
        |insert into auctions (id, data) values (42, 'forty-two');
        |""".stripMargin)
    e2.query("SET @@sql_mode='ANSI_QUOTES,NO_ENGINE_SUBSTITUTION," +
      "ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES'")
    // double quotes are identifier quotes under ANSI_QUOTES
    assert(e2.query("""select "data" from auctions order by "ai" desc""")
      .collect()(0).getString(0) == "forty-two")
    // backticks stay valid; single-quoted strings unaffected, including
    // ones that CONTAIN a double quote
    assert(e2.query("select `data` from auctions order by `ai` desc")
      .collect()(0).getString(0) == "forty-two")
    val r = e2.query("""select "data", '"' from auctions order by "ai"""")
      .collect()(0)
    assert(r.getString(0) == "forty-two" && r.getString(1) == "\"")
    // disabling the mode restores double-quoted strings
    e2.query("SET @@sql_mode='NO_ENGINE_SUBSTITUTION,ONLY_FULL_GROUP_BY'")
    assert(e2.query("""select "data" from auctions order by 1""")
      .collect()(0).getString(0) == "data")
    // DESCRIBE returns MySQL's SHOW COLUMNS shape
    val d = e2.query("describe auctions").collect()
    assert(d.map(_.getString(0)).toSeq == Seq("ai", "id", "data"))
    assert(d(0).getString(3) == "PRI")
    e2.query("drop table auctions")
  }

  test("sql_mode PIPES_AS_CONCAT flips || from logical OR to string " +
      "concat; composite ANSI implies it; @@sql_mode reads back " +
      "(sql_mode.go:30,36)") {
    val s2 = spark.newSession()
    val e2 = new Engine(s2)
    // default mode: || is MySQL's logical OR
    assert(e2.query("SELECT count(*) AS n FROM (SELECT 1 x) t WHERE 0 || 1")
      .collect()(0).getLong(0) == 1L)
    e2.query("SET @@sql_mode = 'PIPES_AS_CONCAT'")
    assert(e2.query("SELECT 'a' || 'b' AS v").collect()(0).getString(0) == "ab")
    // ANSI includes PIPES_AS_CONCAT and ANSI_QUOTES
    e2.query("SET sql_mode = 'ANSI'")
    assert(e2.query("SELECT 'x' || 'y' AS v").collect()(0).getString(0) == "xy")
    assert(e2.query("""SELECT "v2" FROM (SELECT 1 AS v2) t""")
      .collect()(0).getInt(0) == 1)
    assert(e2.query("SELECT @@sql_mode AS m").collect()(0).getString(0) == "ANSI")
    // clearing the mode restores the OR mapping
    e2.query("SET sql_mode = ''")
    assert(e2.query("SELECT count(*) AS n FROM (SELECT 1 x) t WHERE 0 || 1")
      .collect()(0).getLong(0) == 1L)
  }

  test("SET time_zone drives session time rendering (time_queries.go)") {
    // isolated session: conf changes must not leak into parallel suites
    val s2 = spark.newSession()
    val e2 = new Engine(s2)
    def hourAtEpoch: Int =
      e2.query("SELECT hour(from_unixtime(0)) h").collect()(0).getInt(0)
    e2.query("SET time_zone = 'UTC'")
    assert(hourAtEpoch == 0)
    e2.query("SET time_zone = '-5:00'") // MySQL offset form, zero-padded
    assert(hourAtEpoch == 19)
    e2.query("SET @@session.time_zone = 'Pacific/Honolulu'")
    assert(hourAtEpoch == 14)
    val err = intercept[IllegalArgumentException] {
      e2.query("SET time_zone = 'invalid time zone'")
    }
    assert(err.getMessage.contains("1298"))
    // subquery-valued SET (time_queries.go "set time zone from table
    // value"): evaluates first, then validates like a literal
    e2.query("create table tz_src (pk int, tz varchar(20))")
    e2.query("insert into tz_src values (1, 'invalid time zone'), (2, '-5:00')")
    val err2 = intercept[IllegalArgumentException] {
      e2.query("set time_zone=(select tz from tz_src where pk = 1)")
    }
    assert(err2.getMessage.contains("1298"))
    e2.query("set time_zone=(select tz from tz_src where pk = 2)")
    assert(hourAtEpoch == 19)
    e2.query("drop table tz_src")
    e2.query("SET time_zone = 'SYSTEM'") // restores the JVM default
  }

  test("prepared statements: named and positional parameters") {
    val named = engine.queryPrepared(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > :lo AND o_orderstatus = :st",
      Map("lo" -> 400000, "st" -> "O")).collect()(0).getLong(0)
    val positional = engine.queryPrepared(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > ? AND o_orderstatus = ?",
      Seq(400000, "O")).collect()(0).getLong(0)
    assert(named == positional && named > 0)
  }

  test("queryPrepared gives the text form's result: MySQL comparisons, LIMIT markers and DML") {
    val e = new Engine(spark.newSession())
    e.runScript(
      """CREATE TABLE ps_t (id INT PRIMARY KEY, i INT, d DATE, s VARCHAR(10));
        |INSERT INTO ps_t VALUES (1, 1, '2019-12-31', '3x'), (2, 2, '2020-01-01', 'y'),
        |  (3, 3, '2020-01-02', 'z')""".stripMargin)
    def count(df: org.apache.spark.sql.DataFrame): Long = df.collect()(0).getLong(0)
    Seq(
      ("SELECT COUNT(*) FROM ps_t WHERE i - ?", Seq[Any](1), "SELECT COUNT(*) FROM ps_t WHERE i - 1", 2L),
      ("SELECT COUNT(*) FROM ps_t WHERE d = ?", Seq[Any](20191231),
        "SELECT COUNT(*) FROM ps_t WHERE d = 20191231", 1L),
      ("SELECT COUNT(*) FROM ps_t WHERE s = ?", Seq[Any](3), "SELECT COUNT(*) FROM ps_t WHERE s = 3", 1L)
    ).foreach { case (ps, params, text, want) =>
      assert(count(e.query(text)) == want, text)
      assert(count(e.queryPrepared(ps, params)) == want, ps)
    }
    assert(count(e.queryPrepared("SELECT COUNT(*) FROM ps_t WHERE i - :k AND s <> :s",
      Map("k" -> 1, "s" -> "it's"))) == 2L)
    assert(e.queryPrepared("SELECT id FROM ps_t ORDER BY id LIMIT ?, ?", Seq(1, 2))
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(count(e.queryPrepared("UPDATE ps_t SET i = ? WHERE id = ?", Seq(10, 1))) == 1L)
    assert(e.query("SELECT i FROM ps_t WHERE id = 1").collect()(0).getInt(0) == 10)
  }

  test("SQL-text PREPARE / EXECUTE / DEALLOCATE (prepare.go surface)") {
    engine.query(
      "PREPARE q1 FROM 'SELECT count(*) AS n FROM region WHERE r_regionkey < ?'")
    engine.query("SET @k = 3")
    assert(engine.query("EXECUTE q1 USING @k").collect()(0).getLong(0) == 3L)
    // no parameters: runs the stored text as-is
    engine.query("PREPARE q2 FROM 'SELECT 40 + 2 AS v'")
    assert(engine.query("EXECUTE q2").collect()(0).getInt(0) == 42)
    // PREPARE FROM @var (dynamic SQL)
    engine.query("SET @sqltext = 'SELECT max(r_regionkey) AS m FROM region'")
    engine.query("PREPARE q3 FROM @sqltext")
    assert(engine.query("EXECUTE q3").collect()(0).getInt(0) == 4)
    // DEALLOCATE drops the handler (MySQL error 1243 on reuse)
    engine.query("DEALLOCATE PREPARE q1")
    assert(intercept[IllegalArgumentException] {
      engine.query("EXECUTE q1")
    }.getMessage.contains("1243"))
    engine.query("DROP PREPARE q2")
    engine.query("DEALLOCATE PREPARE q3")
  }

  test("EXECUTE ... USING splits parameters quote-aware: a comma inside " +
      "a string literal is ONE binding") {
    engine.query(
      "PREPARE qc FROM 'SELECT ? AS a, ? AS b'")
    val r = engine.query("EXECUTE qc USING 'a,b', 7").collect()(0)
    // numeric bindings substitute as integer literals (MySQL renders
    // the bound value into the statement; the exact width is literal)
    assert(r.getString(0) == "a,b" && String.valueOf(r.get(1)) == "7")
    engine.query("DEALLOCATE PREPARE qc")
  }

  test("session variables substitute outside literals") {
    engine.setVar("min_price", 400000)
    engine.setVar("status", "O")
    val n = engine.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > @min_price AND o_orderstatus = @status")
      .collect()(0).getLong(0)
    val direct = engine.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > 400000 AND o_orderstatus = 'O'")
      .collect()(0).getLong(0)
    assert(n == direct && n > 0)
  }

  test("SELECT INTO @var then reuse in a later query") {
    engine.selectInto("SELECT max(o_totalprice) FROM orders", "maxp")
    val n = engine.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice = @maxp")
      .collect()(0).getLong(0)
    assert(n >= 1)
  }

  test("compress/uncompress round-trip with MySQL header semantics") {
    val r = engine.query(
      """SELECT uncompress(compress('hello world')) AS rt,
                uncompressed_length(compress(repeat('ab', 50))) AS ulen""")
      .collect()(0)
    assert(r.getString(0) == "hello world")
    assert(r.getInt(1) == 100)
  }

  test("crc32/sha1 built-ins match MySQL doc values") {
    val r = engine.query(
      "SELECT crc32('MySQL') AS c, sha1('abc') AS s, md5('testing') AS m")
      .collect()(0)
    assert(r.getLong(0) == 3259397556L)
    assert(r.getString(1) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(2) == "ae2b1fca515949e5d54fb22b8ed95575")
  }

  test("join hints select physical strategies (reference select_hints.go)") {
    // MySQL HASH_JOIN / MERGE_JOIN hints -> Spark SHUFFLE_HASH / MERGE
    val merge = engine.query(
      """SELECT /*+ MERGE(orders) */ count(*) AS n
         FROM orders JOIN customer ON o_custkey = c_custkey""")
      .queryExecution.executedPlan.toString
    assert(merge.contains("SortMergeJoin"))
    val hash = engine.query(
      """SELECT /*+ SHUFFLE_HASH(orders) */ count(*) AS n
         FROM orders JOIN customer ON o_custkey = c_custkey""")
      .queryExecution.executedPlan.toString
    assert(hash.contains("ShuffledHashJoin"))
    val bcast = engine.query(
      """SELECT /*+ BROADCAST(customer) */ count(*) AS n
         FROM orders JOIN customer ON o_custkey = c_custkey""")
      .queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin"))
  }

  test("cached results reuse (reference CachedResults cached_results.go)") {
    val df = engine.query("SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey")
    df.cache()
    try {
      assert(df.count() == df.count()) // second run hits InMemoryRelation
      assert(df.queryExecution.executedPlan.toString.contains("InMemoryTableScan") ||
        df.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    } finally df.unpersist()
  }

  test("scalar subquery over >1 row errors (reference Max1Row)") {
    val ex = intercept[Exception] {
      engine.query(
        "SELECT (SELECT o_orderkey FROM orders) AS x FROM region").collect()
    }
    assert(ex.getMessage.toUpperCase.contains("MORE THAN ONE ROW") ||
      ex.getMessage.contains("SCALAR_SUBQUERY"))
  }

  test("multi-statement script runs in order, literal-aware split") {
    val results = engine.runScript(
      """SELECT 1 AS a;
         SELECT 'x; not a split' AS s;
         SELECT count(*) AS n FROM region""")
    assert(results.length == 3)
    assert(results(1).collect()(0).getString(0) == "x; not a split")
    assert(results(2).collect()(0).getLong(0) == 5)
    // a quote inside a -- comment opens no literal: the ';' after it splits
    val commented = engine.runScript("SELECT 1 AS a -- don't\n; SELECT 2 AS b")
    assert(commented.map(_.collect().map(_.get(0).toString).toSeq) ==
      Seq(Seq("1"), Seq("2")))
  }

  test("multi-database namespaces: attach, qualify, USE, cross-db joins") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.attachDirAsDatabase("sales", sfDir)
    try {
      assert(e.showDatabases().contains("sales"))
      // db-qualified access
      assert(e.query("SELECT count(*) FROM sales.region").collect()(0)
        .getLong(0) == 5)
      // USE switches the default namespace
      e.use("sales")
      assert(e.currentDatabase == "sales")
      assert(e.query("SELECT count(*) FROM nation").collect()(0)
        .getLong(0) == 25)
      // cross-db qualified join
      val n = e.query(
        """SELECT count(*) FROM sales.nation n
           JOIN sales.region r ON n.n_regionkey = r.r_regionkey""")
        .collect()(0).getLong(0)
      assert(n == 25)
      // the nanos-ts events table reads correctly through the view
      assert(e.query("SELECT count(*) FROM sales.events WHERE ts IS NOT NULL")
        .collect()(0).getLong(0) > 0)
      // temp views shadow the current database, like MySQL temp tables
      s2.range(1).toDF("n_nationkey").createOrReplaceTempView("nation")
      assert(e.query("SELECT count(*) FROM nation").collect()(0)
        .getLong(0) == 1)
      s2.catalog.dropTempView("nation")
      // DATABASE() reflects USE
      assert(e.query("SELECT DATABASE() AS d").collect()(0)
        .getString(0) == "sales")
    } finally { e.use("default"); e.dropDatabase("sales") }
  }

  test("AS OF time travel reads pinned snapshots") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.ctas("tt", "SELECT 1 AS v UNION ALL SELECT 2")
    val v1 = e.snapshot("tt")
    e.insertIntoSelect("tt", "SELECT 3 AS v")
    val v2 = e.snapshot("tt")
    e.insertIntoSelect("tt", "SELECT 4 AS v")
    assert(v1 == 1 && v2 == 2)
    assert(e.query("SELECT count(*) FROM tt AS OF 1").collect()(0).getLong(0) == 2)
    assert(e.query("SELECT count(*) FROM tt AS OF 2").collect()(0).getLong(0) == 3)
    assert(e.query("SELECT count(*) FROM tt").collect()(0).getLong(0) == 4)
    // snapshots joinable against the live view
    assert(e.query(
      """SELECT count(*) FROM tt LEFT ANTI JOIN tt AS OF 1 ON tt.v = tt__asof_1.v""")
      .collect()(0).getLong(0) == 2) // rows 3 and 4 are post-snapshot
    // durability: snapshots live in the warehouse, not executor cache —
    // still readable after every cached block is dropped
    s2.catalog.clearCache()
    assert(e.query("SELECT count(*) FROM tt AS OF 1").collect()(0).getLong(0) == 2)
    assert(e.query("SELECT count(*) FROM tt AS OF 2").collect()(0).getLong(0) == 3)
  }

  test("insertIntoSelect keeps plan depth bounded across many inserts") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.ctas("ins_t", "SELECT 0 AS v")
    (1 to 10).foreach(i => e.insertIntoSelect("ins_t", s"SELECT $i AS v"))
    assert(s2.table("ins_t").count() == 11)
    assert(e.query("SELECT sum(v) FROM ins_t").collect()(0).getLong(0) == 55)
    // a union-per-insert chain would carry 10 Union nodes; materialization
    // past MaxUnionDepth caps what a read ever traverses
    val unions = s2.table("ins_t").queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.size < 4, s"plan carries ${unions.size} unions after 10 inserts")
  }

  test("ENUM/SET write validation rejects out-of-vocabulary values") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.ctas("enum_t", "SELECT 'red' AS color, 'read,write' AS perms")
    e.declareEnum("enum_t", "color", Seq("red", "green", "blue"))
    e.declareSet("enum_t", "perms", Seq("read", "write", "exec"))
    // in-vocabulary appends pass
    e.insertIntoSelect("enum_t", "SELECT 'blue' AS color, '' AS perms")
    e.insertIntoSelect("enum_t", "SELECT 'green' AS color, 'exec' AS perms")
    assert(s2.table("enum_t").count() == 3)
    // out-of-vocabulary ENUM value -> MySQL 1265 shape
    val ex1 = intercept[IllegalArgumentException] {
      e.insertIntoSelect("enum_t", "SELECT 'mauve' AS color, 'read' AS perms")
    }
    assert(ex1.getMessage.contains("mauve") && ex1.getMessage.contains("ENUM"))
    // SET element outside the vocabulary -> rejected too
    val ex2 = intercept[IllegalArgumentException] {
      e.insertIntoSelect("enum_t", "SELECT 'red' AS color, 'read,admin' AS perms")
    }
    assert(ex2.getMessage.contains("SET"))
    // NULL is not a vocabulary violation (MySQL: NULL passes, '' does not
    // for ENUM under strict mode — the engine follows the NULL rule only)
    e.insertIntoSelect("enum_t", "SELECT CAST(NULL AS STRING) AS color, NULL AS perms")
    assert(s2.table("enum_t").count() == 4)
  }

  test("SQL-text DML: INSERT / UPDATE / DELETE / TRUNCATE round-trip") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript(
      """CREATE TABLE dml_t AS SELECT 1 AS id, 'alpha' AS name, 10 AS qty;
         INSERT INTO dml_t VALUES (2, 'beta', 20);
         INSERT INTO dml_t (id, name) VALUES (3, 'gamma');
         INSERT INTO dml_t SELECT 4, 'delta', 40""")
    assert(s2.table("dml_t").count() == 4)
    // column-list insert null-fills qty like a MySQL default
    assert(e.query("SELECT qty FROM dml_t WHERE id = 3").collect()(0).isNullAt(0))
    // UPDATE with WHERE touches only matching rows, reports affected count
    val u = e.query("UPDATE dml_t SET qty = qty * 2, name = upper(name) WHERE id <= 2")
    assert(u.collect()(0).getLong(0) == 2)
    assert(e.query("SELECT name, qty FROM dml_t WHERE id = 1").collect()(0)
      .toSeq == Seq("ALPHA", 20))
    assert(e.query("SELECT name FROM dml_t WHERE id = 4").collect()(0)
      .getString(0) == "delta") // untouched
    // DELETE with 3VL: NULL predicate keeps the row (id=3 has NULL qty)
    val del = e.query("DELETE FROM dml_t WHERE qty > 20")
    assert(del.collect()(0).getLong(0) == 2) // ids 2 (40) and 4 (40)
    assert(s2.table("dml_t").count() == 2)
    assert(e.query("SELECT count(*) FROM dml_t WHERE id = 3").collect()(0)
      .getLong(0) == 1)
    // SET @var via SQL text, then substitution
    e.runScript("SET @threshold = 5")
    assert(e.query("SELECT count(*) FROM dml_t WHERE id < @threshold")
      .collect()(0).getLong(0) == 2)
    // CREATE VIEW / DROP / TRUNCATE as text
    e.runScript("CREATE VIEW dml_v AS SELECT id FROM dml_t; TRUNCATE TABLE dml_t")
    assert(s2.table("dml_t").count() == 0)
    e.runScript("DROP VIEW dml_v; DROP TABLE dml_t")
    assert(!e.showTables().contains("dml_t"))
  }

  test("REPLACE INTO and ON DUPLICATE KEY UPDATE upsert on a declared key") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript(
      """CREATE TABLE ups AS
           SELECT 1 AS id, 'a' AS name, 10 AS qty
           UNION ALL SELECT 2, 'b', 20""")
    e.declareKey("ups", Seq("id"))
    // REPLACE: key 2 replaced wholesale, key 3 plain insert;
    // affected = 1 deleted + 2 inserted
    val r = e.query("REPLACE INTO ups VALUES (2, 'B', 200), (3, 'c', 30)")
    assert(r.collect()(0).getLong(0) == 3)
    assert(e.query("SELECT name, qty FROM ups WHERE id = 2").collect()(0)
      .toSeq == Seq("B", 200))
    assert(s2.table("ups").count() == 3)
    // ODKU: existing key accumulates via VALUES(), new key inserts;
    // MySQL affected = 1 per insert + 2 per update
    val u = e.query(
      """INSERT INTO ups VALUES (1, 'a2', 5), (4, 'd', 40)
         ON DUPLICATE KEY UPDATE qty = qty + VALUES(qty), name = VALUES(name)""")
    assert(u.collect()(0).getLong(0) == 3)
    assert(e.query("SELECT name, qty FROM ups WHERE id = 1").collect()(0)
      .toSeq == Seq("a2", 15))
    assert(e.query("SELECT qty FROM ups WHERE id = 4").collect()(0)
      .getInt(0) == 40)
    assert(s2.table("ups").count() == 4)
    // without a declared key the statement refuses loudly
    val ex = intercept[IllegalArgumentException] {
      e.query("REPLACE INTO ups2_undeclared VALUES (1)")
    }
    assert(ex.getMessage.contains("declared key") ||
      ex.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("SQL-text UPDATE respects ENUM vocabulary") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript("CREATE TABLE enum_u AS SELECT 'red' AS color")
    e.declareEnum("enum_u", "color", Seq("red", "green"))
    e.query("UPDATE enum_u SET color = 'green'")
    assert(s2.table("enum_u").collect()(0).getString(0) == "green")
    val ex = intercept[IllegalArgumentException] {
      e.query("UPDATE enum_u SET color = 'purple'")
    }
    assert(ex.getMessage.contains("purple"))
  }

  test("SHOW surface answers client-probe statements as SQL text") {
    val r = engine.query("SHOW VARIABLES LIKE 'version%'").collect()
    assert(r.map(_.getString(0)).toSet == Set("version", "version_comment",
      "version_compile_machine", "version_compile_os", "version_compile_zlib"))
    assert(r.find(_.getString(0) == "version").get.getString(1) == "8.0.31")
    assert(engine.query("SHOW SESSION VARIABLES").count() >= 10)
    assert(engine.query("SHOW STATUS LIKE 'Threads%'").count() == 1)
    // the reference's embedded engine lists no live processes
    // (queries.go `show full processlist` expects zero rows)
    assert(engine.query("SHOW PROCESSLIST").count() == 0)
    // diagnostics area: honestly empty (queries.go:5181 SHOW WARNINGS)
    assert(engine.query("SHOW WARNINGS").count() == 0)
    assert(engine.query("SHOW WARNINGS LIMIT 0").count() == 0)
    assert(engine.query("SHOW ERRORS").count() == 0)
    assert(engine.query("SHOW COUNT(*) WARNINGS").collect()(0).getInt(0) == 0)
    // sql_mode reads back live session state
    assert(engine.query("SHOW VARIABLES LIKE 'sql_mode'").collect()(0)
      .getString(1).contains("STRICT_TRANS_TABLES"))
    val cols = engine.query("SHOW COLUMNS FROM region").collect()
    assert(cols.map(_.getString(0)).toSeq == Seq("r_regionkey", "r_name"))
    assert(cols(0).getString(1) == "int")
    assert(engine.query("SHOW INDEX FROM region").count() == 0)
    // a declared key surfaces as the PRIMARY index
    engine.declareKey("nation", Seq("n_nationkey"))
    val idx = engine.query("SHOW INDEX FROM nation").collect()
    assert(idx.length == 1 && idx(0).getString(2) == "PRIMARY" &&
      idx(0).getString(4) == "n_nationkey" &&
      idx(0).getInt(1) == 0 && idx(0).getString(10) == "BTREE")
    assert(engine.query("SHOW CREATE TABLE region").collect()(0)
      .getString(1).startsWith("CREATE TABLE `region`"))
  }

  test("group_concat aggregates through listagg") {
    assert(engine.query(
      """SELECT group_concat(r_name, '|') AS gc FROM
         (SELECT r_name FROM region ORDER BY r_name)""")
      .collect()(0).getString(0).split("\\|").sorted.length == 5)
  }

  test("json_arrayagg keeps NULL elements; json_objectagg last-wins dup keys") {
    // MySQL JSON_ARRAYAGG([1, NULL, 3]) = [1,null,3] — collect_list alone
    // would drop the NULL (reference unary_agg_buffers.go:702 appends nil)
    val arr = engine.query(
      """SELECT json_arrayagg(v) AS a FROM
         (SELECT 1 AS v UNION ALL SELECT NULL UNION ALL SELECT 3)""")
      .collect()(0).getString(0)
    assert(arr.replaceAll("\\s", "") == "[1,null,3]")
    val obj = engine.query(
      """SELECT json_objectagg(k, v) AS o FROM
         (SELECT 'a' AS k, 1 AS v UNION ALL SELECT 'a', 2)""")
      .collect()(0).getString(0)
    assert(obj.replaceAll("\\s", "") == """{"a":2}""")
  }

  test("WITH RECURSIVE SQL text drives the working-table loop") {
    // UNION ALL form: powers of two
    val pow = engine.query(
      """WITH RECURSIVE t (n) AS (
           SELECT CAST(1 AS BIGINT)
           UNION ALL
           SELECT n * 2 FROM t WHERE n < 512
         ) SELECT n FROM t ORDER BY n""").collect().map(_.getLong(0))
    assert(pow.toSeq == Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L))
    // UNION (distinct) form converges even when steps revisit values
    val dis = engine.query(
      """WITH RECURSIVE t (n) AS (
           SELECT 1 UNION SELECT 2
           UNION
           SELECT n + 1 FROM t WHERE n < 4
         ) SELECT n FROM t ORDER BY n""").collect().map(_.getInt(0))
    assert(dis.toSeq == Seq(1, 2, 3, 4))
    // a binding body whose literal holds a backslash-escaped quote and a ')'
    val esc = engine.query(
      "WITH RECURSIVE r (s, n) AS (SELECT 'it\\'s)', 1 UNION ALL " +
        "SELECT s, n + 1 FROM r WHERE n < 3) SELECT s, n FROM r ORDER BY n")
      .collect().map(r => (r.getString(0), r.get(1).toString))
    assert(esc.toSeq == Seq(("it's)", "1"), ("it's)", "2"), ("it's)", "3")))
    // non-recursive statements flow through unchanged
    assert(engine.query("SELECT 1 AS one").collect()(0).getInt(0) == 1)
  }

  test("WITH RECURSIVE terms take MySQL truthiness") {
    // the recursive term's WHERE is numeric: 5 - n is false at n = 5
    val rec = engine.query("WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL " +
      "SELECT n + 1 FROM r WHERE 5 - n) SELECT * FROM r")
      .collect().map(_.get(0).toString.toInt)
    assert(rec.sorted.toSeq == Seq(1, 2, 3, 4, 5))
    // numeric conditions in the anchor term and the outer statement
    val all = engine.query("WITH RECURSIVE r(n) AS (SELECT 1 WHERE 2 - 1 " +
      "UNION ALL SELECT n + 1 FROM r WHERE 5 - n) SELECT n FROM r " +
      "WHERE n - 3 ORDER BY n").collect().map(_.get(0).toString.toInt)
    assert(all.toSeq == Seq(1, 2, 4, 5))
  }

  test("custom native functions are registered on the session") {
    assert(engine.query("SELECT winnow_fingerprint('the quick brown fox jumps', 8) AS f")
      .collect()(0).getLong(0) == 970748898268L)
  }

  test("variable substitution is literal-aware") {
    // '@@version' and '@v' inside string literals stay untouched while the
    // bare @@version / @v substitute (reference resolves vars post-parse,
    // never inside strings)
    engine.setVar("v", "live")
    val r = engine.query(
      "SELECT '@@version' AS lit_sys, '@v' AS lit_usr, @@version AS sys, @v AS usr")
      .collect()(0)
    assert(r.getString(0) == "@@version")
    assert(r.getString(1) == "@v")
    assert(r.getString(2) == "8.0.31")
    assert(r.getString(3) == "live")
    // a data literal containing an UNKNOWN @@name must not become NULL
    assert(engine.query("SELECT 'mail@@nowhere_zz' AS s").collect()(0)
      .getString(0) == "mail@@nowhere_zz")
  }

  test("SET @x = NULL reads back as SQL NULL") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript("SET @nx = NULL")
    val r = e.query("SELECT @nx AS v, @nx IS NULL AS isn").collect()(0)
    assert(r.isNullAt(0) && r.getBoolean(1))
  }

  test("projection aliases named like CAST targets survive") {
    // `AS signed` here is an alias, not a CAST target — the dialect
    // rewrites are paren-anchored to CAST/CONVERT contexts
    val df = engine.query(
      "SELECT 1 AS signed, 'x' AS char, 2 AS unsigned, 3 AS datetime")
    assert(df.columns.toSeq == Seq("signed", "char", "unsigned", "datetime"))
    // while real CAST targets still rewrite
    val c = engine.query(
      "SELECT CAST('12' AS SIGNED) AS a, CAST(12 AS CHAR) AS b, CAST('2024-01-02 03:04:05' AS DATETIME) AS c")
    assert(c.schema("a").dataType.typeName == "long")
    assert(c.schema("b").dataType.typeName == "string")
    assert(c.schema("c").dataType.typeName == "timestamp_ntz")
  }

  test("qualified db.table names flow through the DML front door") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.attachDirAsDatabase("dmldb", sfDir)
    try {
      e.runScript("CREATE TABLE dmldb.qt AS SELECT 1 AS id, 'a' AS s")
      e.use("default")
      // INSERT / UPDATE / DELETE against the qualified name from another db
      e.runScript("INSERT INTO dmldb.qt VALUES (2, 'b'), (3, 'c')")
      assert(e.query("SELECT count(*) FROM dmldb.qt").collect()(0).getLong(0) == 3)
      e.runScript("UPDATE dmldb.qt SET s = 'z' WHERE id = 2")
      assert(e.query("SELECT s FROM dmldb.qt WHERE id = 2").collect()(0)
        .getString(0) == "z")
      e.runScript("DELETE FROM dmldb.qt WHERE id = 1")
      assert(e.query("SELECT count(*) FROM dmldb.qt").collect()(0).getLong(0) == 2)
      // backtick-quoted qualified form
      e.runScript("INSERT INTO `dmldb`.`qt` VALUES (9, 'q')")
      assert(e.query("SELECT s FROM dmldb.qt WHERE id = 9").collect()(0)
        .getString(0) == "q")
      e.runScript("DROP TABLE dmldb.qt")
    } finally { e.use("default"); e.dropDatabase("dmldb") }
  }

  test("REPLACE/upsert take the INSERT coercion path — no schema drift") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript("CREATE TABLE coer (id INT PRIMARY KEY, qty INT)")
    e.runScript("INSERT INTO coer VALUES (1, 10)")
    // a string literal into the INT column coerces instead of widening
    e.query("REPLACE INTO coer VALUES ('1', '400')")
    assert(s2.table("coer").schema("qty").dataType.typeName == "integer")
    assert(e.query("SELECT qty FROM coer WHERE id = 1").collect()(0)
      .getInt(0) == 400)
    // duplicate keys INSIDE one REPLACE: the last row wins (MySQL
    // processes rows sequentially), no duplicate-PK rows
    e.query("REPLACE INTO coer VALUES (2, 20), (2, 21)")
    val r2 = e.query("SELECT qty FROM coer WHERE id = 2").collect()
    assert(r2.map(_.getInt(0)).toSeq == Seq(21))
    // same for ON DUPLICATE KEY UPDATE incoming batches
    e.query(
      """INSERT INTO coer VALUES (3, 30), (3, 31)
         ON DUPLICATE KEY UPDATE qty = VALUES(qty)""")
    val r3 = e.query("SELECT qty FROM coer WHERE id = 3").collect()
    assert(r3.map(_.getInt(0)).toSeq == Seq(31))
  }

  test("ODKU matches keys with precedence — one row updated per collision") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript(
      "CREATE TABLE odku_mk (id INT PRIMARY KEY, u VARCHAR(10) UNIQUE, qty INT)")
    e.query("INSERT INTO odku_mk VALUES (1, 'a', 10), (2, 'b', 20)")
    // the incoming row collides with row 1 via the PK and row 2 via the
    // unique key; MySQL resolves via the FIRST index (PK) and updates
    // only row 1 — row 2 must keep qty=20
    e.query(
      "INSERT INTO odku_mk VALUES (1, 'b', 99) " +
        "ON DUPLICATE KEY UPDATE qty = VALUES(qty)")
    val rows = e.query("SELECT id, u, qty FROM odku_mk ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1, "a", 99), (2, "b", 20)))
  }

  test("MySQL-legal datetime shapes write through strict mode") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript("CREATE TABLE dtw (id INT PRIMARY KEY, d DATE, ts DATETIME)")
    // shapes Spark's cast rejects but MySQL accepts — none may 1292,
    // and the STORED value must be the MySQL parse, not NULL
    e.query("INSERT INTO dtw VALUES (1, '2009.02.09', '2009/02/09 12:34:56')")
    e.query("INSERT INTO dtw VALUES (2, '20090209', '20090209123456')")
    e.query("INSERT INTO dtw VALUES (3, '69.1.2', '70-1-2 1:2:3')")
    val rows = e.query(
      "SELECT id, CAST(d AS CHAR) d, CAST(ts AS CHAR) ts FROM dtw ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(rows(0) == ((1, "2009-02-09", "2009-02-09 12:34:56")))
    assert(rows(1) == ((2, "2009-02-09", "2009-02-09 12:34:56")))
    assert(rows(2) == ((3, "2069-01-02", "1970-01-02 01:02:03")))
    // a genuinely bad value still raises 1292 in strict mode
    val ex = intercept[Exception](
      e.query("INSERT INTO dtw VALUES (4, 'badtime', NULL)"))
    assert(ex.getMessage.contains("Incorrect date"))
  }

  test("EXPLAIN front door returns the formatted plan (SURVEY §4.4)") {
    val e = new Engine(spark)
    e.query("create table expl_t (i int primary key, s varchar(10))")
    e.query("insert into expl_t values (1, 'a'), (2, 'b')")
    // plain EXPLAIN <select> is MySQL's 12-column tabular row
    val row = e.query("EXPLAIN SELECT i FROM expl_t WHERE i > 1").collect()(0)
    assert(row.getLong(0) == 1L && row.getString(1) == "SELECT" &&
      row.getString(2) == "expl_t")
    // FORMAT=TREE / PLAN render the reference's tree for deterministic
    // shapes, Spark's formatted plan otherwise
    assert(e.query("EXPLAIN FORMAT=TREE SELECT 1").collect()
      .map(_.getString(0)).head == "Project")
    assert(e.query("EXPLAIN PLAN SELECT i FROM expl_t WHERE i > 1")
      .collect()(0).getString(0).contains("Physical Plan"))
    assert(e.query("DESCRIBE SELECT 1").collect()(0).getString(1) == "SELECT")
    // ANALYZE adds cost annotations
    assert(e.query("EXPLAIN ANALYZE SELECT i FROM expl_t").collect()(0)
      .getString(0).nonEmpty)
    // plain DESCRIBE <table> still describes the table
    assert(e.query("DESCRIBE expl_t").collect().map(_.getString(0)).toSeq ==
      Seq("i", "s"))
    e.query("drop table expl_t")
  }

  // ---- small DML-written tables live on the driver (Engine.replaceTable) --

  private def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    df.queryExecution.executedPlan.collect { case p => p }

  test("UPDATE keeps a small copy as one LocalRelation: point reads run no job") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.attachDir(sfDir)
    e.query("CREATE TABLE small_orders AS SELECT o_orderkey, o_custkey, " +
      "o_orderpriority FROM orders").collect()
    val k = s2.table("orders").agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .collect()(0).getLong(0)
    val n = s2.table("orders").count()
    assert(e.query(s"UPDATE small_orders SET o_orderpriority = 'X' " +
      s"WHERE o_orderkey = $k").collect()(0).getLong(0) == 1L)
    val point = e.query(s"SELECT o_orderpriority FROM small_orders WHERE o_orderkey = $k")
    val nodes = planNodes(point)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      nodes.mkString("\n"))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      nodes.mkString("\n"))
    val (rows, jobs) = Jobs.count(s2)(point.collect())
    assert(rows.map(_.getString(0)).toSeq == Seq("X"))
    assert(jobs == 0, s"point read over the stored generation ran $jobs jobs")
    // the affected-row counts of later DML read the folded plan: no job
    val (counts, dmlJobs) = Jobs.count(s2)(Seq(
      e.query(s"UPDATE small_orders SET o_custkey = o_custkey + 1 WHERE o_orderkey = $k"),
      e.query(s"DELETE FROM small_orders WHERE o_orderkey = $k"),
      e.query(s"INSERT INTO small_orders VALUES ($k, 7, 'Y')")
    ).map(_.collect()(0).getLong(0)))
    assert(counts == Seq(1L, 1L, 1L))
    assert(dmlJobs == 0, s"UPDATE/DELETE/INSERT on the stored generation ran $dmlJobs jobs")
    assert(e.query(s"SELECT o_custkey, o_orderpriority FROM small_orders " +
      s"WHERE o_orderkey = $k").collect().map(_.toSeq).toSeq == Seq(Seq(7L, "Y")))
    assert(s2.table("small_orders").count() == n)
  }

  test("a generation whose measured bytes pass the budget stays off the driver") {
    // the optimizer sizes explode(sequence(..)) as one small row, so the
    // estimate passes the gate; the collected rows do not, and the
    // table keeps the union / file path with correct contents
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    val e = new Engine(s2)
    e.query("CREATE TABLE exploded (n INT)")
    val n = 2000
    val batch = s2.sql(s"SELECT explode(sequence(1, $n)) AS n")
    assert(Tables.fitsBroadcast(s2, batch.queryExecution.optimizedPlan.stats.sizeInBytes),
      "premise: the optimizer's estimate of the batch passes the gate")
    for (i <- 1 to 5) {
      val sql = s"INSERT INTO exploded SELECT explode(sequence(1, $n))"
      assert(e.query(sql).collect()(0).getLong(0) == n.toLong)
      val stored = s2.table("exploded").queryExecution.optimizedPlan
      assert(!stored.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"insert $i: a ${i * n}-row generation was kept on the driver")
      val r = e.query("SELECT COUNT(*), SUM(n) FROM exploded").collect()(0)
      assert(r.getLong(0) == i.toLong * n && r.get(1).toString == (i.toLong * n * (n + 1) / 2).toString)
    }
    // past the union depth the generation is a parquet file
    assert(planNodes(s2.table("exploded"))
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]))
  }

  /** A CTAS copy of orders that one no-op UPDATE moved onto the driver,
    * in a session of its own, and a key range of 150 orders in it. */
  private def storedOrders(table: String) = {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.attachDir(sfDir)
    e.query(s"CREATE TABLE $table AS SELECT o_orderkey, o_custkey, " +
      "o_totalprice, o_orderpriority FROM orders").collect()
    val keys = s2.table("orders").select("o_orderkey").collect().map(_.getLong(0)).sorted
    e.query(s"UPDATE $table SET o_custkey = o_custkey WHERE o_orderkey = ${keys(0)}").collect()
    assert(s2.table(table).queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    (e, keys(10), keys(160))
  }

  private def rowsOf(e: Engine, sql: String): Seq[Seq[Any]] =
    e.query(sql).collect().map(_.toSeq).toSeq

  test("Sort and Aggregate over a stored generation fold: no job, same rows as the job path") {
    val (e, a, b) = storedOrders("fold_orders")
    val nullKey = "CASE WHEN o_custkey % 3 = 0 THEN NULL ELSE o_orderpriority END"
    // (SQL with T for the table, whether the row order is part of the result)
    val cases = Seq(
      "SELECT SUM(o_custkey), COUNT(*), COUNT(o_custkey), AVG(o_custkey), " +
        s"MIN(o_orderpriority), MAX(o_totalprice) FROM T WHERE o_orderkey BETWEEN $a AND $b" -> true,
      "SELECT SUM(o_custkey), COUNT(*), COUNT(o_custkey), AVG(o_custkey), " +
        "MIN(o_orderpriority), MAX(o_totalprice) FROM T WHERE o_orderkey BETWEEN -10 AND -1" -> true,
      s"SELECT $nullKey AS p, COUNT(*), SUM(o_custkey) FROM T GROUP BY p" -> false,
      s"SELECT $nullKey AS p, COUNT(*) FROM T GROUP BY p HAVING COUNT(*) > 300" -> false,
      s"SELECT $nullKey AS p, COUNT(*) FROM T WHERE o_orderkey < 0 GROUP BY p" -> false,
      s"SELECT o_orderkey, $nullKey AS p FROM T WHERE o_orderkey BETWEEN $a AND $b " +
        "ORDER BY p DESC NULLS FIRST, o_orderkey LIMIT 7" -> true,
      s"SELECT DISTINCT o_orderpriority FROM T WHERE o_custkey % 2 = 0 ORDER BY o_orderpriority" -> true,
      // the three oltp_mix range shapes
      s"SELECT SUM(o_custkey) FROM T WHERE o_orderkey BETWEEN $a AND $b" -> true,
      s"SELECT o_orderpriority FROM T WHERE o_orderkey BETWEEN $a AND $b " +
        "ORDER BY o_orderpriority" -> true,
      s"SELECT DISTINCT o_orderpriority FROM T WHERE o_orderkey BETWEEN $a AND $b " +
        "ORDER BY o_orderpriority" -> true)
    cases.foreach { case (sql, ordered) =>
      val want = rowsOf(e, sql.replace(" T ", " orders "))
      val (got, jobs) = Jobs.count(e.spark)(rowsOf(e, sql.replace(" T ", " fold_orders ")))
      def norm(r: Seq[Seq[Any]]) = if (ordered) r else r.sortBy(_.mkString("|"))
      assert(norm(got) == norm(want), sql)
      assert(want.nonEmpty || sql.contains("< 0"), s"premise: $sql returns rows")
      assert(jobs == 0, s"$sql ran $jobs jobs over the stored generation")
    }
    // DISTINCT and imperative aggregates keep the job path, with the same rows
    Seq(s"SELECT COUNT(DISTINCT o_orderpriority) FROM T WHERE o_orderkey BETWEEN $a AND $b",
      s"SELECT GROUP_CONCAT(o_orderpriority ORDER BY o_orderkey SEPARATOR ',') FROM T " +
        s"WHERE o_orderkey BETWEEN $a AND $b").foreach { sql =>
      val want = rowsOf(e, sql.replace(" T ", " orders "))
      val (got, jobs) = Jobs.count(e.spark)(rowsOf(e, sql.replace(" T ", " fold_orders ")))
      assert(got == want, sql)
      assert(jobs > 0, s"$sql was folded")
    }
    // past the driver budget the same read runs a job
    val sql = s"SELECT o_orderpriority, COUNT(*) FROM fold_orders " +
      s"WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_orderpriority ORDER BY o_orderpriority"
    val folded = rowsOf(e, sql)
    e.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val (got, jobs) = Jobs.count(e.spark)(rowsOf(e, sql))
    assert(got == folded)
    assert(jobs > 0, "a relation past the budget was folded on the driver")
  }

  test("a keyed INSERT checks its key without a job; a duplicate is still 1062") {
    val s2 = spark.newSession()
    val e = new Engine(s2)
    e.runScript("CREATE TABLE keyed AS SELECT 1 AS id, 'a' AS name UNION ALL SELECT 2, 'b'")
    e.declareKey("keyed", Seq("id"))
    e.query("INSERT INTO keyed VALUES (3, 'c')").collect()
    val (n, jobs) = Jobs.count(s2)(e.query("INSERT INTO keyed VALUES (4, 'd')").collect()(0).getLong(0))
    assert(n == 1L)
    assert(jobs == 0, s"INSERT of a new key ran $jobs jobs")
    val ex = intercept[IllegalArgumentException](e.query("INSERT INTO keyed VALUES (2, 'x')"))
    assert(ex.getMessage.contains("Duplicate entry '2'") && ex.getMessage.contains("1062"))
    val ex2 = intercept[IllegalArgumentException](e.query("INSERT INTO keyed VALUES (5, 'e'), (5, 'f')"))
    assert(ex2.getMessage.contains("Duplicate entry '5'") && ex2.getMessage.contains("1062"))
    assert(rowsOf(e, "SELECT id, name FROM keyed ORDER BY id") ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c"), Seq(4, "d")))
  }

  /** A keyed table of `n` rows (id 1..n, v = id * 10), created and filled
    * through SQL, so it is held on the driver from the start. */
  private def keyedTable(table: String, n: Int) = {
    val e = new Engine(spark.newSession())
    e.query(s"CREATE TABLE $table (id INT PRIMARY KEY, v INT, tag VARCHAR(10))")
    e.query(s"INSERT INTO $table VALUES " +
      (1 to n).map(i => s"($i, ${i * 10}, 't$i')").mkString(", ")).collect()
    assert(e.storedGeneration(table).isDefined, s"premise: $table is held on the driver")
    e
  }

  test("a SELECT without ORDER BY lists rows in the same order before and after an UPDATE by key") {
    val (e, a, _) = storedOrders("order_kept")
    val before = rowsOf(e, "SELECT o_orderkey, o_orderpriority FROM order_kept")
    assert(e.query(s"UPDATE order_kept SET o_orderpriority = 'Z' WHERE o_orderkey = $a")
      .collect()(0).getLong(0) == 1L)
    val after = rowsOf(e, "SELECT o_orderkey, o_orderpriority FROM order_kept")
    assert(after.map(_.head) == before.map(_.head))
    assert(after.zip(before).collect { case (x, y) if x != y => x } == Seq(Seq(a, "Z")))
  }

  test("a DataFrame taken before a write still returns its own rows") {
    val e = keyedTable("snap_rows", 5)
    val taken = e.query("SELECT id, v FROM snap_rows")
    val want = rowsOf(e, "SELECT id, v FROM snap_rows")
    e.query("UPDATE snap_rows SET v = v + 1 WHERE id = 2").collect()
    e.query("DELETE FROM snap_rows WHERE id = 3").collect()
    e.query("INSERT INTO snap_rows VALUES (9, 90, 't9')").collect()
    assert(taken.collect().map(_.toSeq).toSeq == want)
    assert(rowsOf(e, "SELECT id, v FROM snap_rows") ==
      Seq(Seq(1, 10), Seq(2, 21), Seq(4, 40), Seq(5, 50), Seq(9, 90)))
  }

  test("row-level UPDATE and DELETE report 0, 1 and many matches, and none for WHERE NULL") {
    val e = keyedTable("counted", 6)
    def n(sql: String) = e.query(sql).collect()(0).getLong(0)
    assert(n("UPDATE counted SET tag = 'x' WHERE id = 99") == 0L)
    assert(n("UPDATE counted SET tag = 'x' WHERE id = 1") == 1L)
    assert(n("UPDATE counted SET tag = 'y' WHERE v >= 30") == 4L)
    assert(n("UPDATE counted SET tag = 'z' WHERE NULL") == 0L)
    assert(n("UPDATE counted SET v = v + 1") == 6L)
    assert(n("DELETE FROM counted WHERE NULL") == 0L)
    assert(n("DELETE FROM counted WHERE id = 99") == 0L)
    assert(n("DELETE FROM counted WHERE id = 2") == 1L)
    assert(n("DELETE FROM counted WHERE v > 40") == 3L)
    assert(rowsOf(e, "SELECT id, v, tag FROM counted") ==
      Seq(Seq(1, 11, "x"), Seq(3, 31, "y")))
    assert(n("DELETE FROM counted") == 2L)
    assert(rowsOf(e, "SELECT id FROM counted").isEmpty)
  }

  test("a strict out-of-range UPDATE (1264) and a 1062 key collision leave the stored rows unchanged") {
    val e = keyedTable("guarded", 4)
    e.query("CREATE TABLE guarded_small (id INT PRIMARY KEY, b TINYINT)")
    e.query("INSERT INTO guarded_small VALUES (1, 1), (2, 2)").collect()
    val small = rowsOf(e, "SELECT id, b FROM guarded_small")
    val ex = intercept[IllegalArgumentException](
      e.query("UPDATE guarded_small SET b = b + 300 WHERE id = 2"))
    assert(ex.getMessage.contains("1264"), ex.getMessage)
    assert(rowsOf(e, "SELECT id, b FROM guarded_small") == small)
    val rows = rowsOf(e, "SELECT id, v, tag FROM guarded")
    val ex2 = intercept[IllegalArgumentException](
      e.query("UPDATE guarded SET id = 3 WHERE id = 1"))
    assert(ex2.getMessage.contains("Duplicate entry '3'") && ex2.getMessage.contains("1062"),
      ex2.getMessage)
    assert(rowsOf(e, "SELECT id, v, tag FROM guarded") == rows)
    assert(e.storedGeneration("guarded").isDefined)
  }

  test("a keyed table is still PK-ordered after an UPDATE of the key and after an INSERT") {
    val e = keyedTable("pk_sorted", 5)
    e.query("UPDATE pk_sorted SET id = 10 WHERE id = 2").collect()
    assert(rowsOf(e, "SELECT id FROM pk_sorted").map(_.head) == Seq(1, 3, 4, 5, 10))
    e.query("INSERT INTO pk_sorted VALUES (7, 70, 't7'), (0, 0, 't0')").collect()
    assert(rowsOf(e, "SELECT id FROM pk_sorted").map(_.head) == Seq(0, 1, 3, 4, 5, 7, 10))
    e.query("UPDATE pk_sorted SET id = id + 100 WHERE id >= 5").collect()
    e.query("UPDATE pk_sorted SET id = 2 WHERE id = 110").collect()
    assert(rowsOf(e, "SELECT id FROM pk_sorted").map(_.head) == Seq(0, 1, 2, 3, 4, 105, 107))
    assert(rowsOf(e, "SELECT id, v FROM pk_sorted LIMIT 3") ==
      Seq(Seq(0, 0), Seq(1, 10), Seq(2, 20)))
  }

  test("a row-level UPDATE stamps ON UPDATE CURRENT_TIMESTAMP only where a value changes") {
    val e = new Engine(spark.newSession())
    e.query("CREATE TABLE stamped (id INT PRIMARY KEY, v INT, " +
      "ts TIMESTAMP DEFAULT '2000-01-01 00:00:00' ON UPDATE CURRENT_TIMESTAMP)")
    e.query("INSERT INTO stamped (id, v) VALUES (1, 10), (2, 20), (3, 30)").collect()
    assert(e.storedGeneration("stamped").isDefined, "premise: stamped is held on the driver")
    e.queryNow = Some(java.sql.Timestamp.valueOf("2023-12-15 01:30:00"))
    assert(e.query("UPDATE stamped SET v = v + 1 WHERE id = 1").collect()(0).getLong(0) == 1L)
    assert(e.query("UPDATE stamped SET v = 20 WHERE id = 2").collect()(0).getLong(0) == 1L)
    val rows = rowsOf(e, "SELECT id, v, ts FROM stamped")
    assert(rows.map(_.take(2)) == Seq(Seq(1, 11), Seq(2, 20), Seq(3, 30)))
    val ts = rows.map(_(2))
    assert(ts(0) != null && ts(0) != ts(2), s"the changed row was not stamped: $ts")
    assert(ts(1) == ts(2), s"a same-value assignment stamped its row: $ts")
  }

  test("UPDATE and DELETE by a fresh key literal on a stored generation compile no class") {
    val (e, _, _) = storedOrders("compile_free")
    val k = rowsOf(e, "SELECT o_orderkey FROM compile_free ORDER BY o_orderkey").map(_.head)
    // the first statement of each shape may compile what all keys share
    e.query(s"UPDATE compile_free SET o_custkey = o_custkey + 1 WHERE o_orderkey = ${k(20)}").collect()
    e.query(s"UPDATE compile_free SET o_orderpriority = 'P' WHERE o_orderkey = ${k(21)}").collect()
    e.query(s"DELETE FROM compile_free WHERE o_orderkey = ${k(22)}").collect()
    val (counts, compiles) = Compiles.count(Seq(
      e.query(s"UPDATE compile_free SET o_custkey = o_custkey + 1 WHERE o_orderkey = ${k(30)}"),
      e.query(s"UPDATE compile_free SET o_orderpriority = 'Q' WHERE o_orderkey = ${k(31)}"),
      e.query(s"DELETE FROM compile_free WHERE o_orderkey = ${k(32)}")
    ).map(_.collect()(0).getLong(0)))
    assert(counts == Seq(1L, 1L, 1L), "premise: the keys are present")
    assert(compiles == 0L, s"writes by fresh key literals compiled $compiles classes")
  }

  test("DELETE then INSERT of a fresh key on a stored generation compile no class and run no job") {
    val (e, _, _) = storedOrders("insert_compile_free")
    val k = rowsOf(e, "SELECT o_orderkey FROM insert_compile_free ORDER BY o_orderkey").map(_.head)
    // oltp_mix's write pair: the INSERT puts the deleted key back
    def cycle(i: Int): Seq[Long] = Seq(
      s"DELETE FROM insert_compile_free WHERE o_orderkey = ${k(i)}",
      s"INSERT INTO insert_compile_free VALUES (${k(i)}, ${i + 7}, ${1000 + i}.25, '$i-LOW')"
    ).map(e.query(_).collect()(0).getLong(0))
    // the first statement of each shape may compile what all keys share
    cycle(20)
    val ((counts, jobs), compiles) = Compiles.count(Jobs.count(e.spark)(cycle(30) ++ cycle(31)))
    assert(counts == Seq(1L, 1L, 1L, 1L), "premise: the keys are present")
    assert(compiles == 0L, s"DELETE and INSERT by fresh key literals compiled $compiles classes")
    assert(jobs == 0, s"DELETE and INSERT by fresh key literals ran $jobs jobs")
    assert(rowsOf(e, s"SELECT o_custkey, o_orderpriority FROM insert_compile_free " +
      s"WHERE o_orderkey = ${k(31)}") == Seq(Seq(38L, "31-LOW")))
  }

  test("point, BETWEEN, IN-list and LIKE reads by fresh literals compile no class and run no job") {
    val (e, _, _) = storedOrders("read_compile_free")
    val k = rowsOf(e, "SELECT o_orderkey FROM read_compile_free ORDER BY o_orderkey").map(_.head)
    def reads(i: Int) = Seq(
      s"SELECT o_orderpriority FROM read_compile_free WHERE o_orderkey = ${k(i)}",
      s"SELECT o_orderpriority FROM read_compile_free WHERE o_orderkey BETWEEN ${k(i)} AND ${k(i + 9)}",
      s"SELECT o_custkey FROM read_compile_free WHERE o_orderkey IN (${k(i)}, ${k(i + 2)}, ${k(i + 4)})",
      s"SELECT o_orderkey FROM read_compile_free " +
        s"WHERE o_orderpriority LIKE '${i % 5 + 1}-%' AND o_orderkey < ${k(i + 40)}")
    // the first read of each shape may compile what all literals share
    reads(10).foreach(rowsOf(e, _))
    val ((rows, jobs), compiles) = Compiles.count(Jobs.count(e.spark)(reads(31).map(rowsOf(e, _))))
    assert(rows.forall(_.nonEmpty), s"premise: every read returns rows: $rows")
    assert(compiles == 0L, s"reads by fresh literals compiled $compiles classes")
    assert(jobs == 0, s"reads by fresh literals ran $jobs jobs")
  }

  test("a self-join and a correlated subquery over a stored table return the parquet source's rows") {
    val (e, a, b) = storedOrders("joined_orders")
    Seq(s"SELECT x.o_orderkey, y.o_orderkey FROM T x JOIN T y " +
        s"ON x.o_custkey = y.o_custkey AND x.o_orderkey < y.o_orderkey " +
        s"WHERE x.o_orderkey BETWEEN $a AND $b ORDER BY 1, 2",
      s"SELECT o_orderkey, o_custkey FROM T x WHERE o_totalprice > " +
        "(SELECT AVG(o_totalprice) FROM T y WHERE y.o_custkey = x.o_custkey) " +
        s"AND o_orderkey BETWEEN $a AND $b ORDER BY 1").foreach { sql =>
      val want = rowsOf(e, sql.replace(" T ", " orders "))
      assert(want.nonEmpty, s"premise: $sql returns rows")
      assert(rowsOf(e, sql.replace(" T ", " joined_orders ")) == want, sql)
    }
  }

  test("the stored-row Filter fold returns the rows of the job path") {
    val (e, a, b) = storedOrders("filtered_orders")
    // every read keeps its source's row order: LIMIT/OFFSET without ORDER
    // BY sees storage order, which the stored copy shares with orders
    Seq(s"SELECT o_orderkey FROM T WHERE NULL",
      s"SELECT o_orderkey FROM T WHERE o_orderpriority = NULL",
      s"SELECT o_orderkey, o_custkey FROM T WHERE o_custkey % 7 = 1 LIMIT 5 OFFSET 3",
      s"SELECT o_orderkey * 2 + 1, UPPER(o_orderpriority), o_totalprice / 3 FROM T " +
        s"WHERE o_orderkey BETWEEN $a AND $b",
      s"SELECT o_orderkey FROM T WHERE RAND() < 2 AND o_orderkey BETWEEN $a AND $b").foreach { sql =>
      val want = rowsOf(e, sql.replace(" T ", " orders "))
      assert(want.nonEmpty || sql.contains("NULL"), s"premise: $sql returns rows")
      assert(rowsOf(e, sql.replace(" T ", " filtered_orders ")) == want, sql)
    }
    // a column collation compares case- and accent-insensitively on the
    // driver as in a job (a coalesced frame of the same stored rows)
    e.runScript(
      """CREATE TABLE nm_stored (id INT, nm VARCHAR(20) COLLATE utf8mb4_0900_ai_ci);
        |INSERT INTO nm_stored VALUES (1, 'b'), (2, 'A'), (3, 'á'), (4, 'B'), (5, 'a');
        |""".stripMargin)
    assert(e.storedGeneration("nm_stored").isDefined, "premise: nm_stored is held on the driver")
    val job = e.spark.table("nm_stored").coalesce(1)
      .where(org.apache.spark.sql.functions.col("nm") === "a").select("id")
    val (viaJob, jobs) = Jobs.count(e.spark)(job.collect().map(_.toSeq).toSeq)
    assert(jobs > 0, "premise: the coalesced frame runs a job")
    assert(viaJob == Seq(Seq(2), Seq(3), Seq(5)))
    assert(rowsOf(e, "SELECT id FROM nm_stored WHERE nm = 'a'") == viaJob)
  }

  test("after a DELETE of every row: COUNT is 0, SUM is NULL, a LEFT JOIN keeps its other side") {
    val e = keyedTable("emptied", 4)
    assert(e.query("DELETE FROM emptied").collect()(0).getLong(0) == 4L)
    assert(e.storedGeneration("emptied").isDefined, "premise: the empty generation is held on the driver")
    assert(rowsOf(e, "SELECT COUNT(*), SUM(v) FROM emptied") == Seq(Seq(0L, null)))
    e.query("CREATE TABLE other_side (id INT, w INT)")
    e.query("INSERT INTO other_side VALUES (1, 5), (2, 6)").collect()
    assert(rowsOf(e, "SELECT o.id, o.w, x.v FROM other_side o LEFT JOIN emptied x " +
      "ON o.id = x.id ORDER BY o.id") == Seq(Seq(1, 5, null), Seq(2, 6, null)))
  }

  test("a DataFrame cached over a stored read keeps its rows across a write; a new read sees the write") {
    val e = keyedTable("cached_rows", 5)
    val cached = e.query("SELECT id, v FROM cached_rows WHERE id <= 3").cache()
    val want = cached.collect().map(_.toSeq).toSeq
    assert(want == Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)))
    e.query("UPDATE cached_rows SET v = 0 WHERE id = 2").collect()
    assert(cached.collect().map(_.toSeq).toSeq == want)
    assert(rowsOf(e, "SELECT id, v FROM cached_rows WHERE id <= 3") ==
      Seq(Seq(1, 10), Seq(2, 0), Seq(3, 30)))
    cached.unpersist()
  }

  test("a FROM-less SELECT runs no job; RAND() is left unfolded") {
    val e = new Engine(spark.newSession())
    val df = e.query("SELECT 1 + 1, CONCAT('du', 'al'), UPPER('x') AS u")
    val (rows, jobs) = Jobs.count(e.spark)(df.collect())
    assert(rows.map(_.toSeq.map(String.valueOf)).toSeq == Seq(Seq("2", "dual", "X")))
    assert(jobs == 0, s"FROM-less SELECT ran $jobs jobs")
    val rand = e.query("SELECT RAND()")
    assert(rand.queryExecution.analyzed.collectLeaves().exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.OneRowRelation]))
    val v = rand.collect()(0).getDouble(0)
    assert(v >= 0.0 && v < 1.0)
  }

  test("a quote inside a -- comment does not hide a table function call") {
    val rows = engine.query(
      "-- don't\nSELECT * FROM sequence_table('x', 3)").collect()
    assert(rows.map(_.get(0).toString).toSeq == Seq("0", "1", "2"))
  }

  // ---- every UPDATE form gives the WHERE form's row image and checks ----

  /** `body` on a fresh engine whose small tables are held on the driver,
    * then on one with the broadcast budget off, where every table takes
    * the frame path. */
  private def onBothPaths(body: Engine => Unit): Unit =
    Seq(None, Some("-1")).foreach { budget =>
      val s2 = spark.newSession()
      budget.foreach(s2.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      body(new Engine(s2))
    }

  private def warnCodes(e: Engine): Seq[Int] =
    e.query("SHOW WARNINGS").collect().map(_.getInt(1)).toSeq

  private def affected(e: Engine, sql: String): Long =
    e.query(sql).collect()(0).getLong(0)

  test("strict UPDATE … ORDER BY … LIMIT raises 1264 like the WHERE form and keeps the row") {
    onBothPaths { e =>
      e.query("CREATE TABLE oob_ol (id INT PRIMARY KEY, t TINYINT)")
      e.query("INSERT INTO oob_ol VALUES (1, 1), (2, 2)").collect()
      Seq("UPDATE oob_ol SET t = 1000 WHERE id = 1",
          "UPDATE oob_ol SET t = 1000 ORDER BY id LIMIT 1").foreach { sql =>
        val ex = intercept[IllegalArgumentException](e.query(sql))
        assert(ex.getMessage.contains("1264"), s"$sql: ${ex.getMessage}")
        assert(rowsOf(e, "SELECT id, t FROM oob_ol") == Seq(Seq(1, 1), Seq(2, 2)), sql)
      }
    }
  }

  test("non-strict and IGNORE UPDATE … ORDER BY … LIMIT store the zero value and warn 1366 like the WHERE form") {
    onBothPaths { e =>
      e.query("CREATE TABLE cvt_ol (id INT PRIMARY KEY, v INT)")
      e.query("INSERT INTO cvt_ol VALUES (1, 5), (2, 6)").collect()
      def check(sql: String): Unit = {
        assert(affected(e, sql) == 1L, sql)
        assert(warnCodes(e) == Seq(1366), sql)
        assert(rowsOf(e, "SELECT id, v FROM cvt_ol") == Seq(Seq(1, 0), Seq(2, 6)), sql)
        e.query("UPDATE cvt_ol SET v = 5 WHERE id = 1").collect()
      }
      check("UPDATE IGNORE cvt_ol SET v = 'abc' WHERE id = 1")
      check("UPDATE IGNORE cvt_ol SET v = 'abc' ORDER BY id LIMIT 1")
      e.query("SET sql_mode = ''")
      check("UPDATE cvt_ol SET v = 'abc' WHERE id = 1")
      check("UPDATE cvt_ol SET v = 'abc' ORDER BY id LIMIT 1")
    }
  }

  test("UPDATE IGNORE … ORDER BY … LIMIT keeps a key-colliding row and warns 1062 like the WHERE form") {
    onBothPaths { e =>
      e.query("CREATE TABLE ig_ol (id INT PRIMARY KEY, v INT)")
      e.query("INSERT INTO ig_ol VALUES (1, 10), (2, 20), (3, 30)").collect()
      Seq("UPDATE IGNORE ig_ol SET id = 2 WHERE id = 1",
          "UPDATE IGNORE ig_ol SET id = 2 ORDER BY id LIMIT 1").foreach { sql =>
        assert(affected(e, sql) == 1L, sql)
        assert(warnCodes(e) == Seq(1062), sql)
        assert(rowsOf(e, "SELECT id, v FROM ig_ol") ==
          Seq(Seq(1, 10), Seq(2, 20), Seq(3, 30)), sql)
      }
    }
  }

  test("UPDATE IGNORE fires BEFORE UPDATE triggers and stamps ON UPDATE CURRENT_TIMESTAMP") {
    onBothPaths { e =>
      e.query("CREATE TABLE ig_stamp (id INT PRIMARY KEY, v INT, w INT, " +
        "ts TIMESTAMP DEFAULT '2000-01-01 00:00:00' ON UPDATE CURRENT_TIMESTAMP)")
      e.query("INSERT INTO ig_stamp (id, v, w) VALUES (1, 1, 0), (2, 2, 0), (3, 3, 0)").collect()
      e.query("CREATE TRIGGER ig_trg BEFORE UPDATE ON ig_stamp FOR EACH ROW SET NEW.w = NEW.v * 10")
      e.queryNow = Some(java.sql.Timestamp.valueOf("2023-12-15 01:30:00"))
      assert(affected(e, "UPDATE IGNORE ig_stamp SET v = 5 WHERE id = 1") == 1L)
      assert(affected(e, "UPDATE IGNORE ig_stamp SET v = 7 ORDER BY id DESC LIMIT 1") == 1L)
      val rows = rowsOf(e, "SELECT id, v, w, ts FROM ig_stamp")
      assert(rows.map(_.take(3)) == Seq(Seq(1, 5, 50), Seq(2, 2, 0), Seq(3, 7, 70)))
      val ts = rows.map(_(3).toString)
      assert(ts(1).startsWith("2000-01-01"), ts)
      assert(ts(0) == ts(2) && !ts(0).startsWith("2000-01-01"), s"updated rows not stamped: $ts")
    }
  }

  test("UPDATE … ORDER BY … LIMIT on a keyless table leaves the row in place like the WHERE form") {
    onBothPaths { e =>
      e.query("CREATE TABLE kl_ol (v INT, s VARCHAR(5))")
      e.query("INSERT INTO kl_ol VALUES (3, 'a'), (1, 'b'), (2, 'c')").collect()
      assert(affected(e, "UPDATE kl_ol SET s = 'x' ORDER BY v LIMIT 1") == 1L)
      assert(affected(e, "UPDATE kl_ol SET s = 'y' WHERE v = 3") == 1L)
      assert(rowsOf(e, "SELECT v, s FROM kl_ol") ==
        Seq(Seq(3, "y"), Seq(1, "x"), Seq(2, "c")))
    }
  }

  test("UPDATE … JOIN casts each assigned value to its column's type") {
    onBothPaths { e =>
      e.query("CREATE TABLE uj_a (id INT PRIMARY KEY, v INT)")
      e.query("CREATE TABLE uj_b (id INT PRIMARY KEY, s VARCHAR(10))")
      e.query("INSERT INTO uj_a VALUES (1, 1), (2, 2), (3, 3)").collect()
      e.query("INSERT INTO uj_b VALUES (1, '7'), (2, '8')").collect()
      assert(affected(e, "UPDATE uj_a a JOIN uj_b b ON a.id = b.id SET a.v = b.s") == 2L)
      assert(e.spark.table("uj_a").schema("v").dataType == org.apache.spark.sql.types.IntegerType)
      assert(rowsOf(e, "SELECT id, v FROM uj_a") == Seq(Seq(1, 7), Seq(2, 8), Seq(3, 3)))
    }
  }

  test("UPDATE … JOIN updates a keyless target's rows that hold a NULL") {
    onBothPaths { e =>
      e.query("CREATE TABLE uj_n (a INT, b INT)")
      e.query("CREATE TABLE uj_m (a INT)")
      e.query("INSERT INTO uj_n VALUES (1, NULL), (2, 2), (3, 3)").collect()
      e.query("INSERT INTO uj_m VALUES (1), (2)").collect()
      assert(affected(e, "UPDATE uj_n JOIN uj_m ON uj_n.a = uj_m.a SET uj_n.b = 9") == 2L)
      assert(rowsOf(e, "SELECT a, b FROM uj_n ORDER BY a") ==
        Seq(Seq(1, 9), Seq(2, 9), Seq(3, 3)))
    }
  }

  test("UPDATE … JOIN raises 1062 on a duplicate PRIMARY or UNIQUE key and writes no table") {
    onBothPaths { e =>
      e.query("CREATE TABLE uj_c (id INT PRIMARY KEY, v INT)")
      e.query("CREATE TABLE uj_q (id INT PRIMARY KEY, u INT UNIQUE)")
      e.query("CREATE TABLE uj_d (id INT PRIMARY KEY)")
      e.query("INSERT INTO uj_c VALUES (1, 10), (2, 20)").collect()
      e.query("INSERT INTO uj_q VALUES (1, 1), (2, 2)").collect()
      e.query("INSERT INTO uj_d VALUES (1)").collect()
      Seq("UPDATE uj_c c JOIN uj_d d ON c.id = d.id SET c.id = 2" -> "uj_c.PRIMARY",
          "UPDATE uj_q q JOIN uj_d d ON q.id = d.id SET q.u = 2" -> "uj_q.").foreach {
        case (sql, key) =>
          val ex = intercept[IllegalArgumentException](e.query(sql))
          assert(ex.getMessage.contains("Duplicate entry '2'") && ex.getMessage.contains(key) &&
            ex.getMessage.contains("1062"), s"$sql: ${ex.getMessage}")
      }
      assert(rowsOf(e, "SELECT id, v FROM uj_c") == Seq(Seq(1, 10), Seq(2, 20)))
      assert(rowsOf(e, "SELECT id, u FROM uj_q") == Seq(Seq(1, 1), Seq(2, 2)))
    }
  }

  test("UPDATE … JOIN recomputes STORED generated columns and stamps ON UPDATE CURRENT_TIMESTAMP") {
    onBothPaths { e =>
      e.query("CREATE TABLE uj_g (id INT PRIMARY KEY, a INT, b INT AS (a * 2) STORED, " +
        "ts TIMESTAMP DEFAULT '2000-01-01 00:00:00' ON UPDATE CURRENT_TIMESTAMP)")
      e.query("CREATE TABLE uj_k (id INT PRIMARY KEY)")
      e.query("INSERT INTO uj_g (id, a) VALUES (1, 1), (2, 2)").collect()
      e.query("INSERT INTO uj_k VALUES (1)").collect()
      e.queryNow = Some(java.sql.Timestamp.valueOf("2023-12-15 01:30:00"))
      assert(affected(e, "UPDATE uj_g g JOIN uj_k k ON g.id = k.id SET g.a = 5") == 1L)
      val rows = rowsOf(e, "SELECT id, a, b, ts FROM uj_g")
      assert(rows.map(_.take(3)) == Seq(Seq(1, 5, 10), Seq(2, 2, 4)))
      val ts = rows.map(_(3).toString)
      assert(ts(1).startsWith("2000-01-01") && !ts(0).startsWith("2000-01-01"),
        s"the joined row was not stamped: $ts")
    }
  }
}
