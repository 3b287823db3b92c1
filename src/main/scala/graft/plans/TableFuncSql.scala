package graft.plans

/** FROM-clause table functions beyond JSON_TABLE (reference
  * sql/plan TableFunction interface; corpus enginetest/queries/
  * table_func_scripts.go). The reference's enginetest fixtures —
  * sequence_table / lookup_sequence_table / point_lookup_table /
  * simple_table_function / table_func — exercise the resolution, alias,
  * and scope rules every table function shares, so the same fixtures
  * are implemented here as rewrites to derived tables:
  *
  *   sequence_table('x', n)  -->  (SELECT explode(...) AS `x`) AS sequence_table
  *   simple_table_function(v) --> (SELECT 'foo' AS one, 123 AS two) AS ...
  *
  * Key semantics carried over:
  *  - the bare function name is the default table alias (qualified
  *    projection `sequence_table.x` works; an explicit alias REPLACES
  *    it — `simple_table_function.none` after `... stf` is a missing
  *    table, not a missing column);
  *  - two un-aliased uses of one function in a FROM list are MySQL
  *    error 1066 (ErrDuplicateAliasOrTable);
  *  - an unknown name called in table position is
  *    ErrTableFunctionNotFound, NOT a silent fallthrough;
  *  - the count argument may be a correlated outer reference
  *    (`lateral (select * from sequence_table('y', l.x))`) — the
  *    explode stays inside the derived table, so Spark's lateral-join
  *    correlation handles it, one Generate per outer row, no shuffle.
  *
  * The lookup/point variants behave identically row-wise; their
  * index-shape assertions (merge vs lookup joins) are planner
  * diagnostics in the reference harness and are documented as
  * non-portable.
  */
object TableFuncSql {
  import graft.SqlRewrite.{closingParen, inCode, scanTop, splitTopLevel,
    wordAt}

  /** Table-position names that are NOT table-function calls. */
  private val passThrough = Set(
    "values", "value", "lateral", "select", "table", "row", "range",
    "json_table", "unnest", "generate_series")

  private val knownFuncs = Set("sequence_table", "lookup_sequence_table",
    "point_lookup_table", "simple_table_function", "table_func")

  // an identifier immediately called in table position: after FROM,
  // a join keyword, or a comma in the FROM list
  // \s+ after the keyword is load-bearing: FROM_BASE64( / TO_DAYS( /
  // JOINED( must NOT read as FROM/JOIN + identifier calls
  private val Call =
    """(?is)\b(FROM\s+|JOIN\s+|,\s*)([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r

  def rewrite(sql: String): String = {
    if (!knownFuncs.exists(f => sql.toLowerCase.contains(f)) &&
        !mightBeUnknownCall(sql)) return sql
    // 1066 pre-pass on the ORIGINAL text (positions are stable here):
    // the same function un-aliased twice in one SELECT scope's FROM
    // list is "Not unique table/alias"; different subqueries are fine
    val seen = scala.collection.mutable.Set.empty[(String, (Int, Int))]
    Call.findAllMatchIn(sql).foreach { m =>
      val nm = m.group(2).toLowerCase
      if (knownFuncs(nm) && tablePosition(sql, m)) {
        val open = sql.indexOf('(', m.start + m.group(1).length)
        val close = closingParen(sql, open + 1)
        if (close >= 0 &&
            parseAlias(sql.substring(close + 1))._1.isEmpty) {
          val key = (nm, scopeKey(sql, m.start))
          if (seen(key))
            throw new IllegalArgumentException(
              s"Not unique table/alias: '$nm' (MySQL 1066)")
          seen += key
        }
      }
    }
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false
      guard += 1
      val m0 = Call.findAllMatchIn(out).find { m =>
        val nm = m.group(2).toLowerCase
        // known fixtures rewrite in any TABLE position (FROM/JOIN
        // adjacency, or a comma that continues a FROM list — never a
        // SELECT-list comma or a match inside a string literal); unknown
        // names only error when directly FROM/JOIN-adjacent at clause
        // level (comma positions and the FROM inside TRIM/SUBSTRING/
        // EXTRACT are too ambiguous with scalar calls)
        (knownFuncs(nm) && tablePosition(out, m)) ||
          (!passThrough(nm) && !m.group(1).startsWith(",") &&
            clauseLevel(out, m.start) && inCode(out, m.start))
      }
      m0 match {
        case None =>
        case Some(m) =>
          val nm = m.group(2).toLowerCase
          if (!knownFuncs(nm))
            throw new IllegalArgumentException(
              s"table function not found: $nm " +
              s"(MySQL ErrTableFunctionNotFound)")
          val open = out.indexOf('(', m.start + m.group(1).length)
          val close = closingParen(out, open + 1)
          if (close < 0) return out
          val args = splitTopLevel(out.substring(open + 1, close))
            .map(_.trim).filter(_.nonEmpty)
          val after = out.substring(close + 1)
          val (aliasOpt, rest) = parseAlias(after)
          val alias = aliasOpt.getOrElse(nm)
          val derived = nm match {
            case "simple_table_function" =>
              "(SELECT 'foo' AS `one`, 123 AS `two`)"
            case "table_func" =>
              // ONE row holding the instantiated value (memory/
              // table_function.go TableFunctionRowIter)
              val col = args.headOption.map(stripQuotes).getOrElse("x")
              val v = args.lift(1).getOrElse("NULL")
              s"(SELECT CAST($v AS BIGINT) AS `$col`)"
            case "sequence_table" | "lookup_sequence_table" |
                 "point_lookup_table" =>
              val col = args.headOption.map(stripQuotes).getOrElse("x")
              val n = args.lift(1).getOrElse("0")
              s"(SELECT explode(CASE WHEN ($n) > 0 THEN " +
                s"sequence(0, CAST($n AS INT) - 1) " +
                s"ELSE CAST(array() AS array<int>) END) AS `$col`)"
            case other =>
              throw new IllegalArgumentException(
                s"table function not found: $other")
          }
          out = out.substring(0, m.start) + m.group(1) + " " + derived +
            s" AS `$alias` " + rest
          changed = true
      }
    }
    out
  }

  /** cheap pre-filter: any FROM/JOIN-adjacent unknown identifier call
    * at all? (most statements have none and skip the match loop) */
  private def mightBeUnknownCall(sql: String): Boolean =
    Call.findAllMatchIn(sql).exists { m =>
      val nm = m.group(2).toLowerCase
      !passThrough(nm) && !m.group(1).startsWith(",") &&
        clauseLevel(sql, m.start) && inCode(sql, m.start)
    }

  /** A matched call is in TABLE position when it's outside string
    * literals and either FROM/JOIN-adjacent or reached via a comma that
    * continues a FROM list (the clause keyword governing the position is
    * FROM, or an ON/USING trailing a join in the same list) — a
    * SELECT-list comma (`SELECT a, sequence_table('x', 2)`) is a scalar
    * call and must not rewrite. */
  private def tablePosition(sql: String, m: scala.util.matching.Regex.Match)
      : Boolean =
    inCode(sql, m.start) &&
      (!m.group(1).startsWith(",") || inFromList(sql, m.start))

  /** Which clause keyword governs position `at` (same paren depth,
    * literals and comments skipped): true when it's FROM, or ON/USING
    * after a join in the FROM list. */
  private def inFromList(sql: String, at: Int): Boolean = {
    val kws = Seq("select", "from", "where", "group", "order", "having",
      "limit", "union", "intersect", "except", "on", "using", "set",
      "values")
    val stack = scala.collection.mutable.ArrayDeque.empty[String]
    var cur = ""
    scanTop(sql) { (i, c, _) =>
      if (i >= at) i
      else {
        c match {
          case '(' => stack.append(cur); cur = ""
          case ')' => cur = if (stack.nonEmpty) stack.removeLast() else ""
          case _ if Character.isLetter(c) &&
              (i == 0 || sql.charAt(i - 1) != '.') =>
            kws.find(wordAt(sql, i, _)).foreach(cur = _)
          case _ =>
        }
        -1
      }
    }
    cur == "from" || cur == "on" || cur == "using"
  }

  /** True when the FROM/JOIN at `at` is a clause keyword, not the FROM
    * of TRIM/SUBSTRING/EXTRACT/POSITION: either no enclosing unclosed
    * paren, or the enclosing paren opens a subquery (its first word is
    * SELECT). */
  private def clauseLevel(sql: String, at: Int): Boolean = {
    val stack = scala.collection.mutable.ArrayDeque.empty[Int]
    scanTop(sql) { (i, c, _) =>
      if (i >= at) i
      else {
        if (c == '(') stack.append(i)
        else if (c == ')' && stack.nonEmpty) stack.removeLast()
        -1
      }
    }
    stack.lastOption match {
      case None => true
      case Some(open) =>
        sql.substring(open + 1).trim.toUpperCase.startsWith("SELECT")
    }
  }

  /** SELECT-scope fingerprint of a position: (paren depth, number of
    * SELECT keywords before it, both outside literals and comments). Two
    * FROM-list members of one SELECT share it; a subquery differs. */
  private def scopeKey(sql: String, at: Int): (Int, Int) = {
    var depth = 0; var selects = 0
    scanTop(sql) { (i, c, d) =>
      depth = d
      if (i >= at) i
      else {
        if (wordAt(sql, i, "SELECT")) selects += 1
        -1
      }
    }
    (depth, selects)
  }

  private def parseAlias(after: String): (Option[String], String) = {
    val aliasRe = """(?is)^\s*(?:AS\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)""".r
    val reserved = Set("where", "on", "order", "group", "join", "inner",
      "left", "right", "cross", "natural", "full", "union", "intersect",
      "except", "limit", "having", "using", "when", "then", "else", "end",
      "and", "or", "from", "select", "lateral", "set")
    aliasRe.findFirstMatchIn(after) match {
      case Some(am) if !reserved(
          am.group(1).stripPrefix("`").stripSuffix("`").toLowerCase) =>
        (Some(am.group(1).stripPrefix("`").stripSuffix("`")),
          after.substring(am.end))
      case _ => (None, after)
    }
  }

  private def stripQuotes(s: String): String =
    s.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("`").stripSuffix("`")
}
