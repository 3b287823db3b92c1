package graft

import org.scalatest.funsuite.AnyFunSuite

/** Token-pass edge cases for the round-5 dialect rewrites: DATE_ADD
  * INTERVAL arithmetic, CONVERT→CAST, and the retry-only
  * HAVING-without-GROUP-BY row-filter rewrite. These pins guard the
  * text-surgery boundaries (nesting, literals, alias capture) that
  * regex-level rewriters historically got wrong.
  */
class SqlRewriteSpec extends AnyFunSuite {

  private def squash(s: String) = s.replaceAll("\\s+", " ").trim

  test("dateArith rewrites string-literal first arguments") {
    assert(squash(SqlRewrite.dateArith(
      "SELECT DATE_ADD('2018-05-02', INTERVAL 1 day)")) ==
      "SELECT mysql_dt_clamp(CAST(mysql_dtnorm('2018-05-02') AS TIMESTAMP) + INTERVAL 1 day)")
    assert(squash(SqlRewrite.dateArith(
      "SELECT date_sub(da, INTERVAL 3 MONTH) FROM t")) ==
      "SELECT mysql_dt_clamp(CAST(mysql_dtnorm(da) AS TIMESTAMP) - INTERVAL 3 MONTH) FROM t")
  }

  test("dateArith handles nested calls and leaves integer-days form alone") {
    assert(squash(SqlRewrite.dateArith(
      "SELECT DATE_ADD(DATE_SUB(x, INTERVAL 1 DAY), INTERVAL 2 HOUR)")) ==
      "SELECT mysql_dt_clamp(CAST(mysql_dtnorm(mysql_dt_clamp(CAST(mysql_dtnorm(x) AS TIMESTAMP) - INTERVAL 1 DAY)) AS TIMESTAMP) + INTERVAL 2 HOUR)")
    val intDays = "SELECT adddate('2020-01-01', 1)"
    assert(SqlRewrite.dateArith(intDays) == intDays)
    // inside a string literal: untouched
    val lit = "SELECT 'date_add(x, INTERVAL 1 DAY)'"
    assert(SqlRewrite.dateArith(lit) == lit)
  }

  test("convertFn maps both CONVERT forms and nests") {
    assert(squash(SqlRewrite.convertFn("SELECT CONVERT('1', SIGNED)")) ==
      "SELECT CAST('1' AS SIGNED)")
    assert(squash(SqlRewrite.convertFn(
      "SELECT CONVERT(UUID() USING utf8mb4)")) ==
      "SELECT charset_convert(CAST(UUID() AS STRING), 'utf8mb4')")
    assert(squash(SqlRewrite.convertFn(
      "SELECT CONVERT(CONVERT(x USING binary), CHAR(5))")) ==
      "SELECT CAST(charset_convert(CAST(x AS STRING), 'binary') AS CHAR(5))")
    val lit = "SELECT 'CONVERT(x, SIGNED)'"
    assert(SqlRewrite.convertFn(lit) == lit)
  }

  test("havingNoGroup rewrites HAVING to WHERE with alias substitution") {
    assert(squash(SqlRewrite.havingNoGroup(
      "select t1.u as a from uv as t1 having a > 0 order by a")) ==
      "select t1.u as a from uv as t1 WHERE ((t1.u) > 0) order by a")
    // implicit alias form
    assert(squash(SqlRewrite.havingNoGroup(
      "select u a from uv having a = 3")) ==
      "select u a from uv WHERE ((u) = 3)")
  }

  test("havingNoGroup AND-merges into an existing WHERE, parenthesized") {
    assert(squash(SqlRewrite.havingNoGroup(
      "select u as a from uv where u > 0 or u < -1 having a < 9")) ==
      "select u as a from uv where (u > 0 or u < -1) AND ((u) < 9)")
  }

  test("havingNoGroup leaves grouped / having-free queries alone") {
    val grouped = "select u, count(*) c from uv group by u having c > 1"
    assert(SqlRewrite.havingNoGroup(grouped) == grouped)
    val plain = "select u from uv where u > 0"
    assert(SqlRewrite.havingNoGroup(plain) == plain)
  }

  test("fromlessHavingSubquery rewrites only scalar-position single-item " +
      "subqueries — EXISTS/IN and multi-item select lists pass through") {
    // positive control: scalar position, single item, alias substituted
    assert(squash(SqlRewrite.fromlessHavingSubquery(
      "select (select x + 1 as a having a > 2) from t")).contains("CASE WHEN"))
    // relational contexts must NOT become CASE expressions
    val ex = "select exists (select 1 having 1 = 0) from t"
    assert(SqlRewrite.fromlessHavingSubquery(ex) == ex)
    val in = "select * from t where v in (select 1 having 1 = 1)"
    assert(SqlRewrite.fromlessHavingSubquery(in) == in)
    val any = "select * from t where v > any (select 1 having 1 = 1)"
    assert(SqlRewrite.fromlessHavingSubquery(any) == any)
    // a multi-item select list would splice into a malformed CASE
    val multi = "select (select 1, 2 having 1 = 1)"
    assert(SqlRewrite.fromlessHavingSubquery(multi) == multi)
  }

  test("orderlessRankWindow: multiple windows, offsets past first insertion") {
    // three orderless ranking windows — the 2nd/3rd matches sit at
    // offsets that only exist in the MUTATED text; quote scanning must
    // track it (scanning the original threw StringIndexOutOfBounds)
    val three =
      "select 1,row_number()over(),rank()over(),dense_rank()over()"
    val out = SqlRewrite.orderlessRankWindow(three)
    assert(out ==
      "select 1,row_number()over(order by 1),rank()over(order by 1)," +
        "dense_rank()over(order by 1)")
    // a window-function NAME inside a string literal is not a window
    val lit = "select 'rank()over()' as s, row_number() over () from t"
    assert(SqlRewrite.orderlessRankWindow(lit) ==
      "select 'rank()over()' as s, row_number() over (order by 1) from t")
    // existing ORDER BY: untouched
    val ordered = "select rank() over (order by x) from t"
    assert(SqlRewrite.orderlessRankWindow(ordered) == ordered)
  }

  test("lexer primitive: one lexical rule per row") {
    import SqlRewrite._
    // (text, literal start, index just past the literal)
    val literals = Seq(
      ("'it''s' x", 0, 7),       // doubled quote in '…'
      ("\"a\"\"b\" x", 0, 6),    // doubled quote in "…"
      ("`a``b` x", 0, 6),        // doubled quote in `…`
      ("'it\\'s' x", 0, 7),      // backslash escape in '…'
      ("\"a\\\"b\" x", 0, 6),     // backslash escape in "…"
      ("`a\\` x", 0, 4),         // no backslash escape in `…`
      ("x 'open", 2, 7))         // unterminated: runs to the end
    literals.foreach { case (s, at, end) =>
      assert(literalEnd(s, at) == end, s)
    }
    // comments end at the newline; a quote inside one is not a literal
    assert(commentEnd("a -- x'y\nb", 2) == 8)
    assert(commentEnd("a # x'y\nb", 2) == 7)
    assert(commentEnd("-- to the end", 0) == 13)
    assert(commentEnd("a - b", 2) == 2)
    assert(tokenize("a -- don't\n'x' # it's").map(_.text) == Vector("a", "'x'"))
    // nested parens: closingParen of a paren open before `from`
    assert(closingParen("f(a, (b), ')') + c", 2) == 13)
    assert(closingParen("(a -- )\n)", 1) == 8)
    assert(closingParen("(a", 1) == -1)
    // top-level comma split keeps pieces as written
    assert(splitTopLevel("a, f(b, c), 'x,y', -- p,q\n d") ==
      Seq("a", " f(b, c)", " 'x,y'", " -- p,q\n d"))
    assert(splitTopLevel("a;b", ';') == Seq("a", "b"))
    // indexOfTopLevelWord: whole word, depth 0, outside literals/comments
    val w = "select (a where) 'where' -- where\n where_x WHERE b"
    assert(indexOfTopLevelWord(w, "where") == w.indexOf("WHERE"))
    assert(indexOfTopLevelWord("a (where)", "where") == -1)
    assert(inCode("a 'b' c", 6) && !inCode("a 'b' c", 3) &&
      !inCode("a -- b\nc", 5))
    // a WITH RECURSIVE binding body holding 'it\'s' then a ')': the
    // body ends at the last ')', not at the one inside the literal
    val rec = "WITH RECURSIVE r (s) AS (SELECT 'it\\'s)' UNION ALL " +
      "SELECT s FROM r WHERE false) SELECT s FROM r"
    val open = rec.indexOf("(SELECT")
    assert(closingParen(rec, open + 1) == rec.indexOf(") SELECT s FROM r"))
  }
}
