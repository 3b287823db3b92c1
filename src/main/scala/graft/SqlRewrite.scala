package graft

import scala.collection.mutable.ArrayBuffer

/** Token-level MySQL-dialect rewrites that regexes cannot express safely
  * (reference: the vitess grammar handles these natively —
  * sql/planbuilder/aggregates.go GROUP_CONCAT clause,
  * sql/expression/logic.go XOR truthiness). Spark-first answer: rewrite
  * the SQL text into forms Catalyst parses, leaving everything else
  * byte-identical.
  *
  * MySQL's lexical rules — where a '…'/"…"/`…` literal ends, which
  * escapes count, what a -- or # comment hides — live in one place:
  * [[literalEnd]] and [[commentEnd]]. [[tokenize]], [[Dialect.mapCode]]
  * and the depth-tracking [[scanTop]] (with [[closingParen]],
  * [[splitTopLevel]], [[indexOfTopLevelWord]] and [[inCode]] on top of
  * it) are built on them; every front-door text walk goes through one of
  * these. Every pass splices replacements back by source offset, so
  * untouched text survives verbatim.
  */
object SqlRewrite {

  sealed trait Kind
  case object Word extends Kind    // identifier / keyword / number / @var
  case object Lit extends Kind     // quoted literal (any quote style)
  case object Sym extends Kind     // operator / punctuation

  final case class Tok(kind: Kind, text: String, start: Int, end: Int) {
    def isWord(s: String): Boolean = kind == Word && text.equalsIgnoreCase(s)
  }

  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    def isWordChar(c: Char) =
      c.isLetterOrDigit || c == '_' || c == '@' || c == '.' || c == '$'
    while (i < n) {
      val c = sql.charAt(i)
      val skip = commentEnd(sql, i) // a comment is not a token
      if (skip > i) i = skip
      else if (c.isWhitespace) i += 1
      else if (isQuote(c)) {
        val start = i
        i = literalEnd(sql, i)
        out += Tok(Lit, sql.substring(start, i), start, i)
      } else if (isWordChar(c)) {
        val start = i
        while (i < n && isWordChar(sql.charAt(i))) i += 1
        out += Tok(Word, sql.substring(start, i), start, i)
      } else {
        // greedy multi-char operators so `<=>`, `<>`, `!=`, `>=` stay whole
        val ops = Seq("<=>", "<<", ">>", "<>", "!=", "<=", ">=", ":=", "||", "&&")
        val m = ops.find(op => sql.startsWith(op, i))
        val len = m.map(_.length).getOrElse(1)
        out += Tok(Sym, sql.substring(i, i + len), i, i + len)
        i += len
      }
    }
    out.result()
  }

  // ---- the lexer primitive -------------------------------------------
  // Char-level, allocation-free per character: the front door runs these
  // on every statement.

  def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  /** Index just past the quoted literal opening at `i` (`s(i)` is a
    * quote). Doubled quotes escape in all three styles; a backslash
    * escapes the next character in '…' and "…" (MySQL's default sql_mode
    * and Spark's parser both honor \') but not in `…`, which has no
    * backslash escape in either dialect. An unterminated literal runs to
    * the end of `s`. */
  def literalEnd(s: String, i: Int): Int = {
    val q = s.charAt(i)
    val n = s.length
    var j = i + 1
    while (j < n) {
      val c = s.charAt(j)
      if (c == q) {
        if (j + 1 < n && s.charAt(j + 1) == q) j += 2 else return j + 1
      } else if (c == '\\' && q != '`') j += 2
      else j += 1
    }
    n
  }

  /** Index of the newline ending the `--` or `#` comment that starts at
    * `i` (or `s.length`); `i` itself when no comment starts there. */
  def commentEnd(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (c == '#' || (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-')) {
      val nl = s.indexOf('\n', i)
      if (nl < 0) s.length else nl
    } else i
  }

  /** Visitor for [[scanTop]]: `(index, char, depth) => result`, a result
    * >= 0 stops the scan. A SAM of its own so the primitives stay
    * unboxed (Function3 is not specialized). */
  trait CodeChar { def apply(i: Int, ch: Char, depth: Int): Int }

  /** Walk `s` from `from`, skipping literals and comments, and hand every
    * other character to `f` with its paren depth relative to `from`: a
    * '(' and its ')' both see the depth outside them. Returns the first
    * result of `f` that is >= 0, or -1. */
  def scanTop(s: String, from: Int = 0)(f: CodeChar): Int = {
    var depth = 0
    var i = from
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (isQuote(c)) i = literalEnd(s, i)
      else {
        val skip = commentEnd(s, i)
        if (skip > i) i = skip
        else {
          if (c == ')') depth -= 1
          val r = f(i, c, depth)
          if (r >= 0) return r
          if (c == '(') depth += 1
          i += 1
        }
      }
    }
    -1
  }

  /** Index of the ')' closing a paren already open before `from`, or -1. */
  def closingParen(s: String, from: Int = 0): Int =
    scanTop(s, from)((i, c, d) => if (c == ')' && d < 0) i else -1)

  /** `s` split on `sep` outside literals, comments and parens; pieces are
    * returned as written (untrimmed, empty ones kept). */
  def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var start = 0
    scanTop(s) { (i, c, d) =>
      if (c == sep && d == 0) { out += s.substring(start, i); start = i + 1 }
      -1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** True when the whole word `word` (case-insensitive) starts at `i`. */
  def wordAt(s: String, i: Int, word: String): Boolean = {
    def boundary(j: Int) = j < 0 || j >= s.length ||
      !(s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')
    s.regionMatches(true, i, word, 0, word.length) &&
      boundary(i - 1) && boundary(i + word.length)
  }

  /** Index of the first whole-word `word` at paren depth 0 (relative to
    * `from`) outside literals and comments, or -1. */
  def indexOfTopLevelWord(s: String, word: String, from: Int = 0): Int = {
    val head = word.charAt(0).toLower
    scanTop(s, from) { (i, c, d) =>
      if (d == 0 && c.toLower == head && wordAt(s, i, word)) i else -1
    }
  }

  /** True when position `at` is code: outside every literal and comment. */
  def inCode(s: String, at: Int): Boolean =
    scanTop(s)((i, _, _) => if (i >= at) i else -1) == at

  /** Apply (start, end, replacement) patches to the original text. */
  private[graft] def splice(sql: String,
      patches: Seq[(Int, Int, String)]): String = {
    val sorted = patches.sortBy(_._1)
    val sb = new StringBuilder
    var pos = 0
    sorted.foreach { case (s, e, r) =>
      sb.append(sql.substring(pos, s)).append(r); pos = e
    }
    sb.append(sql.substring(pos)).result()
  }

  /** Table names a SELECT text references (FROM/JOIN targets at any
    * depth, comma-joined lists included) — the dependency set a view
    * records at CREATE time so data changes refresh exactly the views
    * that read the touched table, not every view whose text happens to
    * contain the word. Returns lowercased names, both the written form
    * and (for dotted names) the bare last segment. */
  def tableRefs(sql: String): Set[String] = {
    val toks = tokenize(sql)
    val out = scala.collection.mutable.Set.empty[String]
    def add(t: Tok): Unit = {
      val n = t.text.toLowerCase.replace("`", "")
      out += n
      if (n.contains(".")) out += n.substring(n.lastIndexOf('.') + 1)
    }
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if ((t.isWord("from") || t.isWord("join")) && i + 1 < toks.length) {
        var j = i + 1
        // skip LATERAL; a "(" starts a derived table — its inner FROMs
        // get their own hit on this same walk
        if (toks(j).isWord("lateral") && j + 1 < toks.length) j += 1
        if (toks(j).kind == Word && !toks(j).isWord("select")) {
          add(toks(j))
          // comma-join list: `FROM a, b AS x, c`
          if (t.isWord("from")) {
            var k = j + 1
            var depth = 0
            var go = true
            while (go && k + 1 < toks.length) {
              toks(k).text match {
                case "(" => depth += 1; k += 1
                case ")" if depth > 0 => depth -= 1; k += 1
                case ")" => go = false
                case "," if depth == 0 =>
                  if (toks(k + 1).kind == Word &&
                      !toks(k + 1).isWord("select")) add(toks(k + 1))
                  k += 2
                case _ if depth == 0 &&
                    (toks(k).isWord("where") || toks(k).isWord("group") ||
                     toks(k).isWord("order") || toks(k).isWord("limit") ||
                     toks(k).isWord("having") || toks(k).isWord("union") ||
                     toks(k).isWord("join") || toks(k).isWord("on")) =>
                  go = false
                case _ => k += 1
              }
            }
          }
        }
      }
      i += 1
    }
    out.toSet
  }

  /** MySQL `information_schema.X` → the session's `information_schema_X`
    * temp view (Spark temp-view names cannot contain a dot; the
    * tokenizer folds dotted identifiers into one Word, so the whole
    * qualified name is a single token here). */
  /** Identifier-name columns of the info-schema surface whose ORDER BY
    * must follow utf8_general_ci: MySQL uppercases before comparing, so
    * '_' (0x5F) sorts AFTER letters — "collations" before
    * "collation_character_set_applicability". Binary order on the
    * lowercase names gets this backwards. */
  private val infoSchemaNameCols = Set("table_name", "column_name",
    "table_schema", "schema_name", "constraint_name", "index_name",
    "collation_name", "character_set_name", "routine_name",
    "trigger_name", "event_name")

  /** Trailing `FOR UPDATE [OF tbls] [SKIP LOCKED | NOWAIT]` locking
    * clause (script_queries.go "FOR UPDATE OF syntax support tests"):
    * locks are meaningless on immutable snapshots, so the clause strips
    * — after validating it like the reference does: `OF` names must
    * resolve to a table or alias of the statement
    * (ErrUnresolvedTableLock), an empty OF list or trailing junk is a
    * syntax error. */
  def forUpdateClause(sql: String): String = {
    val toks = tokenize(sql)
    if (toks.isEmpty) return sql
    val head = toks.head.text.toLowerCase
    if (head != "select" && head != "with" && head != "(" &&
        head != "table" && head != "values") return sql
    var depth = 0
    var at = -1
    var i = 0
    while (i < toks.length && at < 0) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && toks(i).isWord("for") &&
            i + 1 < toks.length && toks(i + 1).isWord("update") =>
          at = i
        case _ =>
      }
      i += 1
    }
    if (at < 0) return sql
    var j = at + 2
    val ofNames = scala.collection.mutable.ArrayBuffer.empty[String]
    if (j < toks.length && toks(j).isWord("of")) {
      j += 1
      var expectIdent = true
      var go = true
      while (go && j < toks.length) {
        val t = toks(j)
        if (expectIdent) {
          val lw = t.text.toLowerCase
          val isEnd = t.kind != Word ||
            (lw == "skip" && j + 1 < toks.length &&
              toks(j + 1).isWord("locked")) || lw == "nowait"
          if (isEnd) go = false
          else {
            ofNames += t.text.replace("`", "").toLowerCase
            expectIdent = false; j += 1
          }
        } else if (t.text == ",") { expectIdent = true; j += 1 }
        else go = false
      }
      if (ofNames.isEmpty || expectIdent)
        throw new IllegalArgumentException(
          "You have an error in your SQL syntax near 'FOR UPDATE OF' " +
          "(MySQL error 1064)")
    }
    if (j < toks.length && toks(j).isWord("skip") &&
        j + 1 < toks.length && toks(j + 1).isWord("locked")) j += 2
    else if (j < toks.length && toks(j).isWord("nowait")) j += 1
    if (j < toks.length && toks(j).text == ";") j += 1
    if (j != toks.length)
      throw new IllegalArgumentException(
        "You have an error in your SQL syntax near " +
        s"'${toks(j).text}' after FOR UPDATE (MySQL error 1064)")
    // OF names must name a table or alias visible in the statement
    val visible = toks.take(at).collect {
      case t if t.kind == Word =>
        val n = t.text.replace("`", "").toLowerCase
        Seq(n, n.substring(n.lastIndexOf('.') + 1))
    }.flatten.toSet
    ofNames.foreach { n =>
      if (!visible(n)) throw new IllegalArgumentException(
        s"Table '$n' was not locked in the SELECT statement " +
        "(MySQL ErrUnresolvedTableLock)")
    }
    sql.substring(0, toks(at).start).trim
  }

  /** MySQL-reference optimizer hints → Spark hints (reference
    * memo/hints.go: JOIN_ORDER, HASH_JOIN, MERGE_JOIN, LOOKUP_JOIN…).
    * HASH_JOIN→SHUFFLE_HASH, MERGE_JOIN→MERGE, LOOKUP_JOIN→BROADCAST
    * (a lookup join's small probe side is broadcast-shaped); hints with
    * no Spark counterpart (JOIN_ORDER — Catalyst reorders joins itself)
    * strip, because Spark's hint resolver tries to bind unknown hint
    * parameters as attributes and errors (AMBIGUOUS_REFERENCE on
    * script_queries.go "filter pushdown through join uppercase name").
    * Spark-native hint names pass through unchanged. */
  def optimizerHints(sql: String): String = {
    if (!sql.contains("/*+")) return sql
    val HintBlock = """(?s)/\*\+(.*?)\*/""".r
    HintBlock.replaceAllIn(sql, m => {
      val body = m.group(1)
      val HintItem = """(?i)([A-Za-z_0-9]+)\s*(\([^)]*\))?""".r
      val mapped = HintItem.findAllMatchIn(body).flatMap { h =>
        val args = Option(h.group(2)).getOrElse("")
        h.group(1).toUpperCase match {
          case "HASH_JOIN" => Some(s"SHUFFLE_HASH$args")
          case "MERGE_JOIN" => Some(s"MERGE$args")
          case "LOOKUP_JOIN" | "LEFT_OUTER_LOOKUP_JOIN" =>
            Some(s"BROADCAST$args")
          case "JOIN_ORDER" | "JOIN_FIXED_ORDER" | "NO_ICP" |
               "SEMI_JOIN" | "ANTI_JOIN" | "INNER_JOIN" |
               "LEFT_DEEP" | "MAX_EXECUTION_TIME" | "SET_VAR" => None
          case _ => Some(h.group(0))
        }
      }.toSeq
      java.util.regex.Matcher.quoteReplacement(
        if (mapped.isEmpty) " " else s"/*+ ${mapped.mkString(", ")} */")
    })
  }

  /** PIPES_AS_CONCAT precedence: MySQL's `||`-as-concat binds TIGHTER
    * than +/- (`1 + 2 || 3 + 4` = 1 + '23' + 4 = 28 — script_queries.go
    * "pipes as concat mode"), while Spark parses `||` below arithmetic
    * ('37'). Fold each `||` into concat(L, R) over the immediately
    * adjacent unary operands, leftmost first (left-assoc chains). */
  def pipesConcatTight(sql: String): String = {
    var text = sql
    var again = true
    while (again) {
      again = false
      val toks = tokenize(text)
      val at = toks.indexWhere(_.text == "||")
      if (at > 0 && at + 1 < toks.length) {
        // left operand: `)`-terminated call/paren span or single token
        var ls = at - 1
        if (toks(ls).text == ")") {
          var d = 0; var k = ls
          while (k >= 0 && { toks(k).text match {
            case ")" => d += 1; true
            case "(" => d -= 1; d > 0
            case _ => true } }) k -= 1
          ls = k
          // a preceding word is the call name — unless it's a keyword
          // (`select (1||2) || …` must not swallow SELECT)
          val kw = Set("select", "from", "where", "when", "then", "else",
            "and", "or", "xor", "not", "in", "like", "by", "on", "values",
            "union", "all", "distinct", "as", "case", "having", "limit",
            "order", "group", "join", "set", "between", "exists")
          if (ls - 1 >= 0 && toks(ls - 1).kind == Word &&
              !kw(toks(ls - 1).text.toLowerCase)) ls -= 1
        }
        // right operand: word-call span, paren span, or single token
        var re = at + 1
        if (toks(re).kind == Word && re + 1 < toks.length &&
            toks(re + 1).text == "(") re += 1
        if (toks(re).text == "(") {
          var d = 0; var k = re
          while (k < toks.length && { toks(k).text match {
            case "(" => d += 1; true
            case ")" => d -= 1; d > 0
            case _ => true } }) k += 1
          re = k
        }
        val l = text.substring(toks(ls).start, toks(at - 1).end)
        val r = text.substring(toks(at + 1).start, toks(re).end)
        text = text.substring(0, toks(ls).start) + s"concat($l, $r)" +
          text.substring(toks(re).end)
        again = true
      }
    }
    text
  }

  /** `JSON_ARRAYAGG(x) OVER (spec)` — the registry's json_arrayagg
    * builder nests collect_list inside to_json/transform, so an OVER
    * clause can't attach to the aggregate. Re-shape so the window binds
    * collect_list and the unwrap applies outside (script_queries.go
    * "window aggregate functions with order by col"). */
  def windowJsonArrayAgg(sql: String): String = {
    var text = sql
    var again = true
    while (again) {
      again = false
      val toks = tokenize(text)
      var i = 0
      while (i < toks.length && !again) {
        if (toks(i).isWord("json_arrayagg") && i + 1 < toks.length &&
            toks(i + 1).text == "(") {
          // argument span
          var d = 0; var k = i + 1; var close = -1
          while (k < toks.length && close < 0) {
            toks(k).text match {
              case "(" => d += 1
              case ")" => d -= 1; if (d == 0) close = k
              case _ =>
            }
            k += 1
          }
          if (close > 0 && close + 2 < toks.length &&
              toks(close + 1).isWord("over") &&
              toks(close + 2).text == "(") {
            var d2 = 0; var k2 = close + 2; var specClose = -1
            while (k2 < toks.length && specClose < 0) {
              toks(k2).text match {
                case "(" => d2 += 1
                case ")" => d2 -= 1; if (d2 == 0) specClose = k2
                case _ =>
              }
              k2 += 1
            }
            if (specClose > 0) {
              val arg = text.substring(toks(i + 1).end, toks(close).start)
              val spec =
                text.substring(toks(close + 2).end, toks(specClose).start)
              text = text.substring(0, toks(i).start) +
                s"to_json(transform(collect_list(struct(($arg) AS v)) " +
                s"OVER ($spec), s -> s.v))" +
                text.substring(toks(specClose).end)
              again = true
            }
          }
        }
        i += 1
      }
    }
    text
  }

  def infoSchemaNames(sql: String): String = {
    val prefix = "information_schema."
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer(toks.collect {
      case t if t.kind == Word &&
          t.text.toLowerCase.startsWith(prefix) =>
        (t.start, t.end,
          "information_schema_" + t.text.substring(prefix.length))
    }: _*)
    if (patches.nonEmpty) {
      // utf8_general_ci ordering over name columns: ORDER BY name →
      // ORDER BY upper(name), name (upper-then-binary ≡ general_ci for
      // the ASCII identifier charset)
      var i = 0
      while (i + 2 < toks.length) {
        if (toks(i).isWord("order") && toks(i + 1).isWord("by") &&
            toks(i + 2).kind == Word &&
            infoSchemaNameCols(toks(i + 2).text.toLowerCase) &&
            (i + 3 >= toks.length || toks(i + 3).kind == Word &&
              Set("asc", "desc", "limit")(toks(i + 3).text.toLowerCase) ||
              i + 3 < toks.length && toks(i + 3).text == ";")) {
          val c = toks(i + 2).text
          val desc = i + 3 < toks.length && toks(i + 3).isWord("desc")
          patches += ((toks(i + 2).start, toks(i + 2).end,
            if (desc) s"upper($c) DESC, $c" else s"upper($c), $c"))
        }
        i += 1
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- GROUP_CONCAT( [DISTINCT] expr[, expr…] [ORDER BY …] [SEPARATOR 'x'] )
  //      -> listagg([DISTINCT] expr, 'x') [WITHIN GROUP (ORDER BY …)]
  //      (reference sql/expression/function/aggregation/group_concat.go:26)

  /** Correlated scalar subqueries inside GROUP_CONCAT's internal ORDER
    * BY (script_queries.go "Group Concat with Subquery in ORDER BY"):
    * no Spark surface evaluates a subquery inside an aggregate's sort
    * lambda. Lift each subquery into a derived-table projection aliased
    * to the same table name (correlations keep resolving) and sort by
    * the lifted column. Single-table FROM shapes only — bails
    * otherwise. */
  def groupConcatOrderSubquery(sql: String): String = {
    if ("(?i)group_concat".r.findFirstIn(sql).isEmpty) return sql
    if ("(?is)group_concat\\s*\\(.*order\\s+by\\s*\\(\\s*select\\b".r
        .findFirstIn(sql).isEmpty) return sql
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String)]
    val lifted = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("group_concat") && i + 1 < toks.length &&
          toks(i + 1).text == "(") {
        var d = 0; var j = i + 1; var close = -1; var obAt = -1
        while (j < toks.length && close < 0) {
          toks(j).text match {
            case "(" => d += 1
            case ")" => d -= 1; if (d == 0) close = j
            case _ if d == 1 && toks(j).isWord("order") &&
                j + 1 < toks.length && toks(j + 1).isWord("by") &&
                obAt < 0 => obAt = j
            case _ =>
          }
          j += 1
        }
        if (close > 0 && obAt > 0) {
          // each sort key starting `(SELECT …` lifts; keys are split by
          // depth-1 commas, the list ends at SEPARATOR or the call close
          var k = obAt + 2
          var depth = 1
          var expectKey = true
          while (k < close) {
            toks(k).text match {
              case "(" if expectKey && k + 1 < close &&
                  toks(k + 1).isWord("select") =>
                var dd = 0; var m = k; var sqClose = -1
                while (m < close + 1 && sqClose < 0) {
                  toks(m).text match {
                    case "(" => dd += 1
                    case ")" => dd -= 1; if (dd == 0) sqClose = m
                    case _ =>
                  }
                  m += 1
                }
                if (sqClose > 0) {
                  val sqTxt = sql.substring(toks(k).start,
                    toks(sqClose).end)
                  patches += ((toks(k).start, toks(sqClose).end,
                    s"`__gc${lifted.length}`"))
                  lifted += sqTxt
                  k = sqClose
                }
                expectKey = false
              case "(" => depth += 1; expectKey = false
              case ")" => depth -= 1; expectKey = false
              case "," if depth == 1 => expectKey = true
              case w if depth == 1 &&
                  toks(k).isWord("separator") => k = close // stop
              case _ => expectKey = false
            }
            k += 1
          }
        }
      }
      i += 1
    }
    if (lifted.isEmpty) return sql
    // single-table FROM: `FROM <tbl>` with no join/comma before the
    // next clause at depth 0
    var d0 = 0; var fromAt = -1; var k = 0
    while (k < toks.length && fromAt < 0) {
      toks(k).text match {
        case "(" => d0 += 1
        case ")" => d0 -= 1
        case _ if d0 == 0 && toks(k).isWord("from") => fromAt = k
        case _ =>
      }
      k += 1
    }
    if (fromAt < 0 || fromAt + 1 >= toks.length ||
        toks(fromAt + 1).kind != Word ||
        toks(fromAt + 1).isWord("select")) return sql
    // the token after the table must start a clause (or end)
    if (fromAt + 2 < toks.length) {
      val nxt = toks(fromAt + 2)
      val clauseOk = nxt.kind == Word && Set("where", "group", "order",
        "limit", "having")(nxt.text.toLowerCase)
      if (!clauseOk && nxt.text != ";") return sql
    }
    val tbl = toks(fromAt + 1).text
    val proj = lifted.zipWithIndex
      .map { case (sq, n) => s"$sq AS `__gc$n`" }.mkString(", ")
    patches += ((toks(fromAt).start, toks(fromAt + 1).end,
      s"FROM (SELECT *, $proj FROM $tbl) $tbl"))
    splice(sql, patches.toSeq)
  }

  def groupConcat(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var idx = 0
    while (idx < toks.length) {
      if (toks(idx).isWord("group_concat") && idx + 1 < toks.length &&
          toks(idx + 1).text == "(") {
        val open = idx + 1
        var depth = 0
        var close = open
        var j = open
        var found = false
        while (j < toks.length && !found) {
          toks(j).text match {
            case "(" => depth += 1
            case ")" => depth -= 1; if (depth == 0) { close = j; found = true }
            case _ =>
          }
          j += 1
        }
        if (found) {
          val inner = toks.slice(open + 1, close)
          // top-level keyword positions within the call body
          var d = 0
          var orderAt = -1; var sepAt = -1
          inner.zipWithIndex.foreach { case (t, k) =>
            t.text match {
              case "(" => d += 1
              case ")" => d -= 1
              case _ if d == 0 =>
                if (t.isWord("order") && orderAt < 0 && sepAt < 0 &&
                    k + 1 < inner.length && inner(k + 1).isWord("by")) orderAt = k
                else if (t.isWord("separator") && sepAt < 0) sepAt = k
              case _ =>
            }
            d = math.max(d, 0)
          }
          val exprEnd = if (orderAt >= 0) orderAt else if (sepAt >= 0) sepAt else inner.length
          val distinct = inner.nonEmpty && inner.head.isWord("distinct")
          val exprFrom = if (distinct) 1 else 0
          def span(from: Int, until: Int): String =
            if (from >= until) ""
            else sql.substring(inner(from).start, inner(until - 1).end)
          val exprToks = inner.slice(exprFrom, exprEnd)
          val hasTopComma = {
            var dd = 0; var comma = false
            exprToks.foreach { t =>
              t.text match {
                case "(" => dd += 1
                case ")" => dd -= 1
                case "," if dd == 0 => comma = true
                case _ =>
              }
            }
            comma
          }
          val exprSql0 = span(exprFrom, exprEnd)
          val exprSql = if (hasTopComma) s"concat($exprSql0)" else exprSql0
          val sep =
            if (sepAt >= 0) span(sepAt + 1, if (orderAt > sepAt) orderAt else inner.length)
            else "','"
          val order =
            if (orderAt >= 0)
              span(orderAt + 2, if (sepAt > orderAt) sepAt else inner.length)
            else ""
          val dkw = if (distinct) "DISTINCT " else ""
          val within = if (order.nonEmpty) s" WITHIN GROUP (ORDER BY $order)" else ""
          // DISTINCT + ORDER BY over the SAME expression: Spark's
          // listagg rejects the pair (resolved exprs differ once the
          // MySQL-coercion wraps land); a sorted collect_set is exactly
          // MySQL's semantics here
          val orderBase = order.trim
            .replaceAll("(?i)\\s+(ASC|DESC)$", "").trim
          val orderDesc = "(?i)\\s+DESC$".r.findFirstIn(order.trim).isDefined
          val repl =
            if (distinct && order.nonEmpty &&
                orderBase.replaceAll("[`\\s]", "") ==
                  exprSql.replaceAll("[`\\s]", "")) {
              val sorted =
                if (orderDesc) s"reverse(array_sort(collect_set($exprSql)))"
                else s"array_sort(collect_set($exprSql))"
              s"array_join(transform($sorted, __gc -> CAST(__gc AS STRING)), $sep)"
            } else if (distinct && order.nonEmpty) {
              // DISTINCT ordered by OTHER columns: MySQL sorts rows by
              // the ORDER BY keys, then dedupes the evaluated expression
              // keeping the first occurrence (reference groupconcat.go);
              // Spark's listagg rejects the pair. Emulate with sorted
              // structs + array_distinct (first-occurrence semantics).
              val keys = splitTopLevel(order).map(_.trim)
                .filter(_.nonEmpty).map { k =>
                  val desc = "(?i)\\s+DESC$".r.findFirstIn(k).isDefined
                  val base = k.replaceAll("(?i)\\s+(ASC|DESC)$", "").trim
                  (base, desc)
                }
              val kFields = keys.zipWithIndex
                .map { case ((b, _), i) => s"$b AS __k$i" }
              val cmp = keys.zipWithIndex.flatMap { case ((_, desc), i) =>
                val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
                // MySQL: NULL keys sort first ASC / last DESC; without
                // the explicit branches every WHEN evaluates NULL and
                // NULL-key rows keep arbitrary order
                Seq(s"WHEN l.__k$i IS NULL AND r.__k$i IS NOT NULL THEN $lt",
                    s"WHEN r.__k$i IS NULL AND l.__k$i IS NOT NULL THEN $gt",
                    s"WHEN l.__k$i < r.__k$i THEN $lt",
                    s"WHEN l.__k$i > r.__k$i THEN $gt")
              }.mkString(" ")
              val st = "struct(" + (kFields :+
                s"CAST($exprSql AS STRING) AS __v").mkString(", ") + ")"
              val arr =
                s"array_distinct(transform(array_sort(" +
                s"filter(collect_list($st), s -> s.__v IS NOT NULL), " +
                s"(l, r) -> CASE $cmp ELSE 0 END), s -> s.__v))"
              s"CASE WHEN size($arr) = 0 THEN NULL " +
              s"ELSE array_join($arr, $sep) END"
            } else s"listagg($dkw$exprSql, $sep)$within"
          patches += ((toks(idx).start, toks(close).end, repl))
          idx = close
        }
      }
      idx += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- a XOR b -> (((a) <> 0) != ((b) <> 0)) with MySQL truthiness
  //      (reference sql/expression/logic.go — Xor evaluates operand truth
  //      values; precedence OR < XOR < AND, so operand scans stop only at
  //      OR/XOR/clause boundaries and unbalanced parens/commas)

  private val clauseStops: Set[String] = Set(
    "select", "from", "where", "when", "then", "else", "end", "on", "group",
    "order", "by", "having", "limit", "offset", "union", "intersect",
    "except", "case", "join", "values", "set", "as", "asc", "desc", "or",
    "xor", "distinct", "all")
  // MySQL precedence: OR < XOR < AND < NOT < BETWEEN/comparison — AND (and
  // any BETWEEN…AND pair, which sits tighter still) binds tighter than XOR,
  // so AND-connected conjuncts stay INSIDE the operand span:
  // `a AND b XOR c` is `(a AND b) XOR c`. Operand scans stop only at
  // OR/XOR/clause keywords, unbalanced parens, and commas. Boolean operands
  // keep working after the `<> 0` wrap because TypeCoercion BooleanEquality
  // folds `bool <> 0` back to the boolean.

  /** Keywords that may legitimately follow a value token inside one operand
    * expression — anything else in Word position right after a value is an
    * implicit alias (`SELECT a XOR b x`) and ends the operand. */
  private val valueConnectors: Set[String] = Set(
    "and", "not", "is", "null", "true", "false", "unknown", "like", "rlike",
    "regexp", "in", "between", "div", "mod", "escape", "collate", "sounds",
    "interval", "microsecond", "second", "minute", "hour", "day", "week",
    "month", "quarter", "year")

  /** truth-wrap of one operand text: MySQL parses a string's numeric
    * PREFIX for its truth value ('3bxu' -> 3 -> true, 'asdf' -> 0 ->
    * false; reference sql/types/convert_value.go) — a bare string
    * literal routes through the registered mysql_to_number; everything
    * else keeps the `<> 0` form (BooleanEquality folds booleans back). */
  private def truthWrap(operand: String): String =
    // MySQL truthiness is numeric on EVERY type: non-numeric strings
    // coerce to 0 (stringandtable `WHERE NOT v` keeps 'true'/'false'/''
    // rows), so the prefix-number reader wraps columns too — a bare
    // `(v) <> 0` would go through Spark's null-producing string cast
    s"(mysql_to_number($operand) <> 0)"

  /** MySQL permits ranking windows without ORDER BY (they number rows in
    * arrival order — logic_test_scripts.go LATERAL row_number() OVER ()
    * blocks); Spark rejects an orderless ranking window. Inject the
    * constant ordering `ORDER BY 1` (literal, not ordinal, inside a
    * window spec) into ranking-function windows that lack one. */
  def orderlessRankWindow(sql: String): String = {
    val re =
      """(?is)\b(?:row_number|rank|dense_rank|percent_rank|cume_dist|ntile|lag|lead)\s*\([^()]*\)\s*over\s*\(""".r
    // scans the CURRENT text (match offsets come from the mutated
    // string — scanning the original would drift after the first
    // insertion and can index past its end)
    var text = sql
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false
      guard += 1
      re.findAllMatchIn(text).find { m =>
        inCode(text, m.start) && {
          val close = closingParen(text, m.end)
          close > 0 &&
            !"""(?is)\border\s+by\b""".r.findFirstIn(
              text.substring(m.end, close)).isDefined
        }
      }.foreach { m =>
        val close = closingParen(text, m.end)
        val spec = text.substring(m.end, close).trim
        val filled = if (spec.isEmpty) "order by 1" else s"$spec order by 1"
        text = text.substring(0, m.end) + filled + text.substring(close)
        changed = true
      }
    }
    text
  }

  /** Infix `a MOD b` → `a % b`: MySQL grammar Spark lacks (Spark keeps
    * `div` but only the mod(a,b) FUNCTION form). A `mod` word counts as
    * the infix operator when the previous token ends a value (literal,
    * identifier, closing paren) and the next does not open a call. */
  def infixMod(sql: String): String = {
    val stops = Set("select", "from", "where", "and", "or", "xor", "not",
      "when", "then", "else", "end", "by", "on", "set", "values", "case",
      "like", "in", "is", "between", "as", "join", "having", "limit",
      "group", "order", "union", "all", "distinct", "insert", "update",
      "delete", "returning", "interval", "separator", "escape")
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String)]
    var i = 1
    while (i < toks.length - 1) {
      val t = toks(i)
      if (t.isWord("mod") && toks(i + 1).text != "(") {
        val p = toks(i - 1)
        val prevEndsValue = p.kind == Lit || p.text == ")" ||
          (p.kind == Word && !stops(p.text.toLowerCase) &&
            !"+-*/%=<>!&|^~,(".contains(p.text))
        if (prevEndsValue) patches += ((t.start, t.end, "%"))
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  def xor(sql: String): String = {
    var text = sql
    // each pass rewrites the first XOR token into `!=` form, so the token
    // count of `xor` strictly decreases — loop until none remain (a fixed
    // guard would silently hand Spark unparseable leftovers)
    var remaining = true
    while (remaining) {
      val toks = tokenize(text)
      val at = toks.indexWhere(_.isWord("xor"))
      if (at < 0) remaining = false
      else {
        // left operand: walk back
        var i = at - 1
        var depth = 0
        var leftStart = -1
        var stop = false
        while (i >= 0 && !stop) {
          val t = toks(i)
          t.text match {
            case ")" => depth += 1
            case "(" if depth == 0 => stop = true
            case "(" => depth -= 1
            case "," | ";" if depth == 0 => stop = true
            case w if depth == 0 && t.kind == Word && clauseStops(w.toLowerCase) =>
              stop = true
            case _ =>
          }
          if (!stop) { leftStart = i; i -= 1 }
        }
        // right operand: walk forward
        var j = at + 1
        depth = 0
        var rightEnd = -1
        stop = false
        while (j < toks.length && !stop) {
          val t = toks(j)
          val prev = if (rightEnd >= 0) Some(toks(rightEnd)) else None
          val prevIsValue = prev.exists(p =>
            p.kind == Lit || p.text == ")" ||
            (p.kind == Word && !valueConnectors(p.text.toLowerCase)))
          t.text match {
            case "(" => depth += 1
            case ")" if depth == 0 => stop = true
            case ")" => depth -= 1
            case "," | ";" if depth == 0 => stop = true
            case w if depth == 0 && t.kind == Word && clauseStops(w.toLowerCase) =>
              stop = true
            case w if depth == 0 && t.kind == Word && prevIsValue &&
                !valueConnectors(w.toLowerCase) =>
              stop = true // implicit alias: two adjacent value Words
            case _ =>
          }
          if (!stop) { rightEnd = j; j += 1 }
        }
        require(leftStart >= 0 && rightEnd >= 0, s"XOR operand scan failed: $text")
        val l = text.substring(toks(leftStart).start, toks(at - 1).end)
        val r = text.substring(toks(at + 1).start, toks(rightEnd).end)
        text = text.substring(0, toks(leftStart).start) +
          s"(${truthWrap(l)} != ${truthWrap(r)})" + text.substring(toks(rightEnd).end)
      }
    }
    text
  }

  // ---- `BINARY x` prefix operator (reference sql/expression/convert.go
  //      via planbuilder: BINARY expr is CAST(expr AS BINARY) over the
  //      value's STRING form — MySQL renders the number first, so
  //      BINARY 1 is the byte string '1', not an int encoding). The
  //      SELECT-path gate keeps DDL type uses (`b binary(16)`) out;
  //      cast targets (`AS BINARY`) and CONVERT(x, BINARY) are excluded
  //      by the surrounding-token checks.
  def binaryPrefix(sql: String): String = {
    if (!"""(?i)\bbinary\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.isWord("binary") && i + 1 < toks.length) {
        val prevOk = i == 0 || {
          val p = toks(i - 1)
          !p.isWord("as") && p.text != "," && p.text != "." &&
            !p.isWord("binary")
        }
        val nxt = toks(i + 1)
        if (prevOk) {
          val span: Option[(Int, Int)] = nxt match {
            case n if n.kind == Lit => Some((n.start, n.end))
            case n if n.kind == Word && i + 2 < toks.length &&
                n.text.equalsIgnoreCase("x") &&
                toks(i + 2).kind == Lit && toks(i + 2).start == n.end =>
              Some((n.start, toks(i + 2).end)) // hex literal X'0a'
            case n if n.kind == Word =>
              // identifier / number; include a call's argument list
              if (i + 2 < toks.length && toks(i + 2).text == "(")
                Some(closeParenFor(toks, i + 2)).filter(_ > 0)
                  .map(c => (n.start, toks(c).end))
              else Some((n.start, n.end))
            case n if n.text == "(" =>
              Some(closeParenFor(toks, i + 1)).filter(_ > 0)
                .map(c => (n.start, toks(c).end))
            case _ => None
          }
          span.foreach { case (s, epos) =>
            patches += ((t.start, epos,
              s"CAST(CAST(${sql.substring(s, epos)} AS STRING) AS BINARY)"))
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** GET_FORMAT(DATE, 'usa') — the first argument is a bare keyword in
    * MySQL's grammar; quote it for the registered string-arg function. */
  def getFormatKeyword(sql: String): String = {
    if (!"""(?i)\bget_format\b""".r.findFirstIn(sql).isDefined) return sql
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    for (i <- toks.indices) {
      if (toks(i).isWord("get_format") && i + 2 < toks.length &&
          toks(i + 1).text == "(" && toks(i + 2).kind == Word &&
          Set("date", "time", "datetime", "timestamp")(
            toks(i + 2).text.toLowerCase))
        patches += ((toks(i + 2).start, toks(i + 2).end,
          s"'${toks(i + 2).text.toLowerCase}'"))
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  private val cmpSyms = Set("=", "<", ">", "<=", ">=", "<>", "!=", "<=>")

  /** token index of the '(' matching a ')' at `close` (walk back). */
  private def openParenFor(toks: Vector[Tok], close: Int): Int = {
    var depth = 0
    var i = close
    while (i >= 0) {
      toks(i).text match {
        case ")" => depth += 1
        case "(" =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i -= 1
    }
    -1
  }

  /** token index of the ')' matching a '(' at `open` (walk forward). */
  private def closeParenFor(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** source spans of the depth-1 comma-separated items between the
    * parens at token indexes `open`..`close`; empty when no top-level
    * comma (i.e. not a row constructor). */
  private def tupleItems(toks: Vector[Tok], open: Int, close: Int,
                         text: String): Seq[String] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var depth = 0
    var itemStart = -1
    var i = open
    var commas = 0
    while (i <= close) {
      val t = toks(i)
      t.text match {
        case "(" =>
          depth += 1
          if (depth == 1 && i + 1 <= close) itemStart = toks(i + 1).start
        case ")" =>
          depth -= 1
          if (depth == 0) spans += ((itemStart, t.start))
        case "," if depth == 1 =>
          commas += 1
          spans += ((itemStart, t.start))
          if (i + 1 <= close) itemStart = toks(i + 1).start
        case _ =>
      }
      i += 1
    }
    if (commas == 0) Seq.empty
    else spans.result().map { case (s, e) => text.substring(s, e).trim }
  }

  /** pairwise 3VL expansion of a row-value comparison — MySQL's exact
    * semantics fall out of AND/OR NULL logic: (1,2)=(NULL,3) is FALSE,
    * (1,2)=(NULL,2) is NULL, (0,NULL)=(0,NULL) is NULL. */
  private def tupleExpand(op: String, ls: Seq[String], rs: Seq[String]): String =
    op match {
      case "=" | "<=>" =>
        ls.zip(rs).map { case (l, r) => s"($l) $op ($r)" }
          .mkString("(", " AND ", ")")
      case "<>" | "!=" => "(NOT " + tupleExpand("=", ls, rs) + ")"
      case "<" | ">" | "<=" | ">=" =>
        val strict = op.substring(0, 1)
        def rec(i: Int): String =
          if (i == ls.length - 1) s"(${ls(i)}) $op (${rs(i)})"
          else s"((${ls(i)}) $strict (${rs(i)}) OR " +
            s"((${ls(i)}) = (${rs(i)}) AND ${rec(i + 1)}))"
        rec(0)
    }

  // words that may legitimately precede a row constructor's '(' — a
  // bare identifier there means a function call, not a tuple
  private val tuplePreWords = Set("where", "and", "or", "not", "on", "when",
    "then", "else", "select", "having", "union", "all", "by", "in", "xor")

  private def tupleSubjectOk(toks: Vector[Tok], lOpen: Int): Boolean =
    lOpen == 0 || toks(lOpen - 1).kind != Word ||
      tuplePreWords(toks(lOpen - 1).text.toLowerCase)

  private def noSelect(items: Seq[String]): Boolean =
    !items.exists(_.matches("(?is)^\\s*(?:select|with)\\b.*"))

  /** MySQL row-value comparisons: `(a, b) OP (c, d)` and
    * `(a, b) [NOT] IN ((1,2),(3,4))` expand to pairwise scalar
    * comparisons (reference sql/expression/tuple.go + comparison.go).
    * Spark parses the syntax but compares as struct VALUES (a NULL
    * field is just a value: (0,NULL)=(0,NULL) is TRUE there, NULL in
    * MySQL), so the expansion restores MySQL's 3VL. Row-subquery
    * comparisons and function calls are left untouched. */
  /** `(select a, b …)` → `(SELECT struct(a, b) …)` — row-subquery
    * comparisons compile to struct comparisons (queries.go `(select 3,
    * 4 from dual) in ((1, 2), (3, 4))`). */
  private def toStructSelect(tup: String): Option[String] = {
    val inner = tup.trim.stripPrefix("(").stripSuffix(")").trim
    if (!inner.toLowerCase.startsWith("select")) return None
    val ts = tokenize(inner)
    var depth = 0; var fromAt = -1; var i = 1
    while (i < ts.length && fromAt < 0) {
      ts(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && ts(i).isWord("from") => fromAt = i
        case _ =>
      }
      i += 1
    }
    val selEnd = if (fromAt < 0) inner.length else ts(fromAt).start
    val selList = inner.substring(ts(0).end, selEnd)
    val rest = if (fromAt < 0) "" else " " + inner.substring(ts(fromAt).start)
    Some(s"(SELECT struct($selList)$rest)")
  }

  def tupleCompare(sql: String): String = {
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      val toks = tokenize(text)
      var k = 1
      while (k < toks.length - 1 && !changed) {
        val t = toks(k)
        // (…,…) OP (…,…)
        if (t.kind == Sym && cmpSyms(t.text) &&
            toks(k - 1).text == ")" && toks(k + 1).text == "(") {
          val lOpen = openParenFor(toks, k - 1)
          val rClose = closeParenFor(toks, k + 1)
          if (lOpen >= 0 && rClose > 0 && tupleSubjectOk(toks, lOpen)) {
            val ls = tupleItems(toks, lOpen, k - 1, text)
            val rs = tupleItems(toks, k + 1, rClose, text)
            if (ls.length >= 2 && ls.length == rs.length &&
                noSelect(ls) && noSelect(rs)) {
              text = text.substring(0, toks(lOpen).start) +
                tupleExpand(t.text, ls, rs) +
                text.substring(toks(rClose).end)
              changed = true
            } else if (ls.length >= 2 && ls.length == rs.length) {
              // a row SUBQUERY side compiles to a struct select; the
              // plain side to a struct constructor
              val lRaw = text.substring(toks(lOpen).start, toks(k - 1).end)
              val rRaw = text.substring(toks(k + 1).start, toks(rClose).end)
              def side(items: Seq[String], raw: String): Option[String] =
                if (!noSelect(items)) toStructSelect(raw)
                else Some("struct(" + items.mkString(", ") + ")")
              (side(ls, lRaw), side(rs, rRaw)) match {
                case (Some(l2), Some(r2)) =>
                  text = text.substring(0, toks(lOpen).start) +
                    s"$l2 ${t.text} $r2" + text.substring(toks(rClose).end)
                  changed = true
                case _ =>
              }
            }
          }
        }
        // (…,…) [NOT] IN ((…),(…))  — value list only (subqueries parse
        // natively in Spark)
        if (!changed && t.kind == Word && t.text.equalsIgnoreCase("in") &&
            k + 1 < toks.length && toks(k + 1).text == "(") {
          val neg = toks(k - 1).isWord("not")
          val subjClose = if (neg) k - 2 else k - 1
          if (subjClose > 0 && toks(subjClose).text == ")") {
            val lOpen = openParenFor(toks, subjClose)
            val listClose = closeParenFor(toks, k + 1)
            if (lOpen >= 0 && listClose > 0 && tupleSubjectOk(toks, lOpen) &&
                !toks.slice(k + 2, listClose).exists(x =>
                  x.isWord("select") || x.isWord("with"))) {
              val ls = tupleItems(toks, lOpen, subjClose, text)
              // list items: depth-1 groups, each itself a row
              // constructor; a SINGLE-tuple list `IN ((1,2))` has no
              // depth-1 comma, so the whole body is the one item
              val listItems0 = tupleItems(toks, k + 1, listClose, text)
              val listItems =
                if (listItems0.nonEmpty) listItems0
                else {
                  val inner = text.substring(toks(k + 1).end,
                    toks(listClose).start).trim
                  if (inner.startsWith("(") && inner.endsWith(")"))
                    Seq(inner)
                  else Seq.empty
                }
              if (ls.length >= 2 && listItems.nonEmpty &&
                  listItems.forall(_.startsWith("(")) && noSelect(ls)) {
                val alts = listItems.map { item =>
                  val innerToks = tokenize(item)
                  val rs = tupleItems(innerToks, 0, innerToks.length - 1, item)
                  if (rs.length != ls.length) null
                  else tupleExpand("=", ls, rs)
                }
                if (!alts.contains(null)) {
                  val ored = alts.mkString("(", " OR ", ")")
                  val repl = if (neg) s"(NOT $ored)" else ored
                  text = text.substring(0, toks(lOpen).start) + repl +
                    text.substring(toks(listClose).end)
                  changed = true
                }
              } else if (ls.length >= 2 && listItems.nonEmpty &&
                  listItems.forall(_.startsWith("(")) && !noSelect(ls)) {
                // row-SUBQUERY subject: struct select IN (struct(…), …)
                val subjRaw = text.substring(toks(lOpen).start,
                  toks(subjClose).end)
                toStructSelect(subjRaw).foreach { l2 =>
                  val rhs = listItems.map("struct" + _).mkString(", ")
                  val repl =
                    if (neg) s"($l2 NOT IN ($rhs))" else s"($l2 IN ($rhs))"
                  text = text.substring(0, toks(lOpen).start) + repl +
                    text.substring(toks(listClose).end)
                  changed = true
                }
              }
            }
          }
        }
        k += 1
      }
    }
    text
  }

  // ---- DATE_ADD/ADDDATE/DATE_SUB/SUBDATE(x, INTERVAL n unit)
  //      -> (CAST(x AS TIMESTAMP) ± INTERVAL n unit)
  //      Spark's date_add/date_sub take (date, days); MySQL's INTERVAL form
  //      (reference sql/expression/function/date.go DateAdd/DateSub) is
  //      timestamp arithmetic, which Spark expresses as `ts + INTERVAL`.
  //      The integer-days form is left alone for the registered
  //      adddate/subdate templates. Token pass: the first argument may be a
  //      quoted literal or nested call, which a code-segment regex cannot
  //      span.

  private val dateAddNames = Set("date_add", "adddate")
  private val dateSubNames = Set("date_sub", "subdate")

  def dateArith(sql: String): String = {
    var text = sql
    // rewrite one call per pass (innermost-last), re-tokenizing after each
    // splice; every pass removes one `fn(x, INTERVAL …)` occurrence, so the
    // loop terminates
    var again = true
    while (again) {
      again = false
      val toks = tokenize(text)
      var idx = 0
      while (idx < toks.length && !again) {
        val t = toks(idx)
        val isAdd = t.kind == Word && dateAddNames(t.text.toLowerCase)
        val isSub = t.kind == Word && dateSubNames(t.text.toLowerCase)
        if ((isAdd || isSub) && idx + 1 < toks.length && toks(idx + 1).text == "(") {
          var j = idx + 2
          var depth = 0
          var comma = -1
          var close = -1
          while (j < toks.length && close < 0) {
            toks(j).text match {
              case "(" => depth += 1
              case ")" if depth == 0 => close = j
              case ")" => depth -= 1
              case "," if depth == 0 && comma < 0 => comma = j
              case _ =>
            }
            j += 1
          }
          if (close > 0 && comma >= idx + 3 && comma + 1 < close &&
              toks(comma + 1).isWord("interval")) {
            val arg = text.substring(toks(idx + 2).start, toks(comma - 1).end)
            val ivl0 = text.substring(toks(comma + 1).start, toks(close - 1).end)
            val op = if (isAdd) "+" else "-"
            // `INTERVAL <expression> <unit>`: Spark's INTERVAL literal
            // only takes constants — a computed count (fuzzer shape
            // `INTERVAL ( BIT_LENGTH(…) ^ c ) DAY`) becomes
            // make_interval (script_queries.go "complicated string to
            // numeric conversion")
            val ivlToks = tokenize(ivl0)
            val unitArg: Option[String] =
              if (ivlToks.length > 3 && ivlToks.last.kind == Word) {
                val b = "CAST((" + ivl0.substring(ivlToks(1).start,
                  ivlToks.last.start).trim + ") AS INT)"
                ivlToks.last.text.toLowerCase match {
                  case "year" => Some(s"make_interval($b)")
                  case "quarter" => Some(s"make_interval(0, 3 * $b)")
                  case "month" => Some(s"make_interval(0, $b)")
                  case "week" => Some(s"make_interval(0, 0, $b)")
                  case "day" => Some(s"make_interval(0, 0, 0, $b)")
                  case "hour" => Some(s"make_interval(0, 0, 0, 0, $b)")
                  case "minute" =>
                    Some(s"make_interval(0, 0, 0, 0, 0, $b)")
                  case "second" =>
                    Some(s"make_interval(0, 0, 0, 0, 0, 0, $b)")
                  case _ => None
                }
              } else None
            val ivl = unitArg.getOrElse(ivl0)
            // mysql_dtnorm accepts MySQL-legal datetime shapes Spark's
            // cast rejects; mysql_dt_clamp nulls results outside
            // [0000-01-01, 9999-12-31] (reference dateadd.go range)
            text = text.substring(0, t.start) +
              s"mysql_dt_clamp(CAST(mysql_dtnorm($arg) AS TIMESTAMP) $op $ivl)" +
              text.substring(toks(close).end)
            again = true
          }
        }
        idx += 1
      }
    }
    text
  }

  // ---- CONVERT(x, TYPE) -> CAST(x AS TYPE) and
  //      CONVERT(x USING charset) -> CAST(x AS STRING)
  //      (reference sql/expression/convert.go + planbuilder; every charset
  //      is UTF-8 on the Spark side, so USING reduces to a string cast).
  //      The produced CAST target then flows through the Dialect's MySQL
  //      type-name mappings (SIGNED/UNSIGNED/CHAR/DATETIME).

  /** Argless `CAST('<numeric literal>' AS DECIMAL)`: the reference
    * converts through InternalDecimalType(65,30) — value-preserving —
    * while Spark's bare DECIMAL is (10,0), which rounds to an integer
    * (reference expression/convert.go:492 createConvertedDecimalType +
    * types/decimal.go:67 InternalDecimalType). For QUOTED literals
    * (script_queries.go "Ensure scale is not rounded" shape) give the
    * cast a type that holds the literal exactly; numeric-literal and
    * column-arg casts keep Spark's (10,0) — real MySQL's own default. */
  def wideDecimalLiteralCast(sql: String): String = {
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String)]
    var i = 0
    while (i + 5 < toks.length) {
      if (toks(i).isWord("cast") && toks(i + 1).text == "(" &&
          toks(i + 2).kind == Lit && toks(i + 2).text.startsWith("'") &&
          toks(i + 3).isWord("as") && toks(i + 4).isWord("decimal") &&
          toks(i + 5).text == ")") {
        val body = toks(i + 2).text.stripPrefix("'").stripSuffix("'").trim
        if (body.matches("[+-]?\\d+(\\.\\d+)?")) {
          val unsigned = body.stripPrefix("+").stripPrefix("-")
          val dot = unsigned.indexOf('.')
          val intPart =
            (if (dot < 0) unsigned else unsigned.substring(0, dot))
              .dropWhile(_ == '0')
          val fracDigits =
            if (dot < 0) 0 else unsigned.length - dot - 1
          val s = math.min(fracDigits, 30)
          val intDigits = math.max(intPart.length, 1)
          if (intDigits + s <= 38)
            patches += ((toks(i + 4).start, toks(i + 4).end,
              s"DECIMAL(${intDigits + s},$s)"))
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Bare numeric literals wider than 38 digits (MySQL DECIMAL reaches
    * 65) fail Spark's parser outright (DECIMAL_PRECISION_EXCEEDS_MAX_
    * PRECISION). Quote them: the wide-DECIMAL write coercion and
    * comparison rewrite parse text exactly (functions.WideDecimal), and
    * Spark's string→double coercion covers residual numeric contexts —
    * strictly better than a parse error. */
  def quoteWideNumericLiterals(sql: String): String = {
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String)]
    toks.foreach { t =>
      if (t.kind == Word && t.text.matches("[0-9]+(\\.[0-9]*)?|\\.[0-9]+")) {
        val dot = t.text.indexOf('.')
        val ip = (if (dot < 0) t.text else t.text.substring(0, dot))
          .dropWhile(_ == '0')
        val fp = if (dot < 0) "" else t.text.substring(dot + 1)
        if (ip.length + fp.length > 38)
          patches += ((t.start, t.end, s"'${t.text}'"))
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Correlated scalar subqueries in the select list of a GROUPED query
    * that reference the grouped columns (sqllogictest
    * subquery_correlated L1130) — Spark rejects the shape outright
    * (SCALAR_SUBQUERY references grouped columns). Two-phase rewrite:
    * pre-aggregate the outer into a derived table and correlate each
    * probe against the derived alias instead:
    *   SELECT c.c_id, count(*) AS n, (SELECT … WHERE o2.id = c.c_id)
    *   FROM c GROUP BY c.c_id
    * ⇒ SELECT __g.c_id, __g.n, (SELECT … WHERE o2.id = __g.c_id)
    *   FROM (SELECT c.c_id, count(*) AS n FROM c GROUP BY c.c_id) __g
    * Retry-only (error-ladder) — bails to the original text unless the
    * shape is clean: top-level GROUP BY, no HAVING, simple column group
    * keys, every non-column base item explicitly aliased. */
  def groupThenProbe(sql: String): String = {
    val toks = tokenize(sql)
    if (toks.isEmpty || !toks.head.isWord("select")) return sql
    var depth = 0
    var fromAt = -1; var groupAt = -1; var tailAt = -1
    var i = 1
    while (i < toks.length) {
      val t = toks(i)
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && t.kind == Word =>
          t.text.toLowerCase match {
            case "from" if fromAt < 0 => fromAt = i
            case "group" if fromAt > 0 && groupAt < 0 &&
                i + 1 < toks.length && toks(i + 1).isWord("by") =>
              groupAt = i
            case "having" if groupAt > 0 => return sql // bail
            case "order" | "limit" if groupAt > 0 && tailAt < 0 =>
              tailAt = i
            case "union" | "intersect" | "except" if depth == 0 => return sql
            case _ =>
          }
        case _ =>
      }
      i += 1
    }
    if (fromAt < 0 || groupAt < 0) return sql
    val selTxt = sql.substring(toks.head.end, toks(fromAt).start)
    if (selTxt.toLowerCase.contains("distinct")) return sql
    val fromTxt = sql.substring(toks(fromAt).end,
      toks(groupAt).start)
    val keysEnd = if (tailAt > 0) toks(tailAt).start else sql.length
    val keysTxt = sql.substring(toks(groupAt + 2).start, keysEnd)
    val tailTxt = if (tailAt > 0) sql.substring(toks(tailAt).start) else ""
    // group keys must be simple (possibly qualified) columns
    val keys = splitTopLevel(keysTxt).map(_.trim)
    val KeyPat = "^(?:`?([A-Za-z_][A-Za-z0-9_]*)`?\\.)?`?" +
      "([A-Za-z_][A-Za-z0-9_]*)`?$"
    val keyParts = keys.map { k =>
      val m = java.util.regex.Pattern.compile(KeyPat).matcher(k)
      if (!m.matches()) return sql
      (Option(m.group(1)), m.group(2))
    }
    // bare output names must be unambiguous
    if (keyParts.map(_._2.toLowerCase).distinct.size != keyParts.size)
      return sql
    val items = splitTopLevel(selTxt).map(_.trim).filter(_.nonEmpty)
    val (probes, base) = items.partition(it =>
      "(?is)\\(\\s*select\\b".r.findFirstIn(it).isDefined)
    if (probes.isEmpty || base.isEmpty) return sql
    val AliasPat =
      """(?is)^.*\s+AS\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""".r
    val ColPat = ("^(?:`?[A-Za-z_][A-Za-z0-9_]*`?\\.)?`?" +
      "([A-Za-z_][A-Za-z0-9_]*)`?$").r
    // outer-facing name of each base item
    val outerBase = base.map {
      case AliasPat(a) => s"__g.`$a`"
      case it => it.trim match {
        case ColPat(c) => s"__g.`$c`"
        case _ => return sql // unaliased expression: bail
      }
    }
    // rewrite qualified grouped-column references inside probe items
    // (and the ORDER BY/LIMIT tail) to the derived alias
    def redirect(txt: String): String =
      keyParts.foldLeft(txt) {
        case (t, (Some(q), c)) =>
          t.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(q) +
            "\\s*\\.\\s*`?" + java.util.regex.Pattern.quote(c) + "`?\\b",
            s"__g.`$c`")
        case (t, (None, _)) => t
      }
    val outerProbes = probes.map(redirect)
    // keep the original select-list item ORDER in the outer projection
    val outer = items.map { it =>
      if ("(?is)\\(\\s*select\\b".r.findFirstIn(it).isDefined)
        outerProbes(probes.indexOf(it))
      else outerBase(base.indexOf(it))
    }
    s"SELECT ${outer.mkString(", ")} FROM (SELECT ${base.mkString(", ")} " +
      s"FROM $fromTxt GROUP BY $keysTxt) __g ${redirect(tailTxt)}".trim
  }

  def convertFn(sql: String): String = {
    var text = sql
    // one call per pass (outermost-first); each pass removes one CONVERT
    // keyword, so the loop terminates
    var again = true
    while (again) {
      again = false
      val toks = tokenize(text)
      var idx = 0
      while (idx < toks.length && !again) {
        val t = toks(idx)
        if (t.isWord("convert") && idx + 1 < toks.length &&
            toks(idx + 1).text == "(") {
          var j = idx + 2
          var depth = 0
          var comma = -1
          // NB: not named `using` — scala 2.13 parses `toks(using - 1)` as
          // a Scala-3 context application, i.e. toks(-1)
          var usingAt = -1
          var close = -1
          while (j < toks.length && close < 0) {
            val u = toks(j)
            u.text match {
              case "(" => depth += 1
              case ")" if depth == 0 => close = j
              case ")" => depth -= 1
              case "," if depth == 0 && comma < 0 => comma = j
              case _ if depth == 0 && u.isWord("using") && usingAt < 0 =>
                usingAt = j
              case _ =>
            }
            j += 1
          }
          if (close > 0 && usingAt >= idx + 3 && usingAt + 1 < close) {
            val arg = text.substring(toks(idx + 2).start, toks(usingAt - 1).end)
            // the declared charset both converts (lossily, '?' for
            // unmappable chars) and tags the result for CHARSET()
            val cs = toks(usingAt + 1).text.replaceAll("[`']", "")
            text = text.substring(0, t.start) +
              s"charset_convert(CAST($arg AS STRING), '$cs')" +
              text.substring(toks(close).end)
            again = true
          } else if (close > 0 && comma >= idx + 3 && comma + 1 < close) {
            val arg = text.substring(toks(idx + 2).start, toks(comma - 1).end)
            val tpe = text.substring(toks(comma + 1).start, toks(close - 1).end)
            text = text.substring(0, t.start) + s"CAST($arg AS $tpe)" +
              text.substring(toks(close).end)
            again = true
          }
        }
        idx += 1
      }
    }
    text
  }

  // ---- HAVING without GROUP BY (retry-only): MySQL treats it as a row
  //      filter that can see projection aliases (reference
  //      sql/planbuilder/select.go HAVING binding; column_alias_queries.go
  //      "Having clause may reference expression aliases"); Spark turns
  //      the query into a global aggregate and fails with
  //      MISSING_GROUP_BY. Rewrite `HAVING c` to `WHERE c` (AND-merged
  //      into an existing WHERE) with projection aliases substituted by
  //      their select-list expressions, which also implements MySQL's
  //      alias-over-column precedence in HAVING.

  private val havingCondStops: Set[String] = Set(
    "order", "limit", "offset", "union", "intersect", "except", "window")

  // ---- aggregate + bare column without GROUP BY (retry-only): MySQL's
  //      implicit single group lets a non-aggregated column through and
  //      returns "any" value for it (queries.go `SELECT pk1, SUM(c1)
  //      FROM two_pk WHERE pk1 = 0`); Spark errors MISSING_GROUP_BY.
  //      Bare column items in the outer select list wrap in any_value()
  //      keeping their display name.

  private val aggFnRe =
    ("(?i)\\b(sum|count|avg|min|max|group_concat|listagg|any_value|" +
     "bit_and|bit_or|bit_xor|std|stddev|stddev_pop|stddev_samp|var_pop|" +
     "var_samp|variance|json_arrayagg|json_objectagg|" +
     "approx_count_distinct)\\s*\\(").r

  def anyValueWrap(sql: String, allowCol: String => Boolean = _ => true,
                   wrapAll: Boolean = false): String = {
    val toks = tokenize(sql)
    var depth = 0
    var selectAt = -1
    var fromAt = -1
    var groupAt = -1
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && t.isWord("select") && selectAt < 0 =>
          selectAt = i
        case _ if depth == 0 && selectAt >= 0 && fromAt < 0 &&
            t.isWord("from") => fromAt = i
        case _ if depth == 0 && selectAt >= 0 && groupAt < 0 &&
            t.isWord("group") && i + 1 < toks.length &&
            toks(i + 1).isWord("by") => groupAt = i
        case _ =>
      }
      i += 1
    }
    if (selectAt < 0) return sql
    val fromEnd = if (fromAt >= 0) fromAt else groupAt
    // with a top-level GROUP BY, only bare columns OUTSIDE the group
    // list wrap (MISSING_AGGREGATION shape: `SELECT sum(i) isum, s FROM
    // mytable GROUP BY i`); without one, MySQL's implicit single group
    val groupCols: Set[String] =
      if (groupAt >= 0) {
        var k = groupAt + 1
        var depth = 0
        val b = Set.newBuilder[String]
        var stop = false
        while (k < toks.length && !stop) {
          val t = toks(k)
          t.text match {
            case "(" => depth += 1
            case ")" => if (depth == 0) stop = true else depth -= 1
            case _ if depth == 0 && t.kind == Word &&
                Set("having", "order", "limit", "offset", "union",
                  "intersect", "except", "window")(t.text.toLowerCase) =>
              stop = true
            case _ if t.kind == Word && !t.isWord("by") =>
              b += t.text.toLowerCase
            case _ =>
          }
          k += 1
        }
        b.result()
      } else Set.empty
    val hadGroupBy = groupAt >= 0
    val listStart = toks(selectAt).end
    val listEnd = if (fromEnd < 0) sql.length else toks(fromEnd).start
    val listTxt = sql.substring(listStart, listEnd)
    if (listTxt.trim.toUpperCase.startsWith("DISTINCT")) return sql
    val items = splitTopLevel(listTxt)
    val hasAgg = (s: String) => aggFnRe.findFirstIn(s).isDefined
    if (!wrapAll && !hadGroupBy && !items.exists(hasAgg)) return sql
    val BareCol =
      """^\s*((?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)(?:\.(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?)\s*(?:(?:AS\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?\s*$""".r
    var changed = false
    // qualified wrapped columns (t2.j) whose post-aggregate ORDER BY
    // references must retarget the display alias
    val wrappedQualified =
      scala.collection.mutable.Map.empty[String, String]
    val rebuilt = items.map { it =>
      if (hasAgg(it)) it
      else it match {
        case BareCol(col0, alias) =>
          val colLast = col0.split('.').last
            .stripPrefix("`").stripSuffix("`").toLowerCase
          if (hadGroupBy && groupCols.contains(colLast)) it
          else if (!allowCol(colLast) && !wrapAll) return sql
          else {
            val display = Option(alias).getOrElse(
              col0.split('.').last).stripPrefix("`").stripSuffix("`")
            changed = true
            if (col0.contains("."))
              wrappedQualified += (col0.toLowerCase -> display)
            s" any_value($col0) AS `$display`"
          }
        case _ if wrapAll && !it.contains("`") && {
          // constant items (no bare column reference) stay unwrapped —
          // they still evaluate over an EMPTY single group, where
          // any_value would null them (123 / concat('abc','def'))
          val its = tokenize(it)
          its.zipWithIndex.exists { case (t, k) =>
            t.kind == Word && !t.text.forall(_.isDigit) &&
              !(k + 1 < its.length && its(k + 1).text == "(") &&
              !Set("as", "null", "true", "false", "distinct",
                "and", "or", "not", "case", "when", "then", "else",
                "end", "interval")(t.text.toLowerCase)
          }
        } =>
          // sql_mode without ONLY_FULL_GROUP_BY admits ANY expression;
          // MySQL names the column by its original text. A trailing
          // `AS alias` must stay OUTSIDE the wrap (any_value(e AS a) is
          // invalid SQL) and becomes the display name.
          changed = true
          val its2 = tokenize(it)
          val aliased =
            if (its2.length >= 3 && its2(its2.length - 2).isWord("as") &&
                its2.last.kind == Word)
              Some((it.substring(0, its2(its2.length - 2).start),
                    its2.last.text))
            else None
          aliased match {
            case Some((expr, al)) => s" any_value($expr) AS `$al`"
            case None => s" any_value($it) AS `${it.trim}`"
          }
        case _ => it
      }
    }
    if (!changed) sql
    else {
      var out = sql.substring(0, listStart) + rebuilt.mkString(",") +
        sql.substring(listEnd)
      // retarget top-level ORDER BY references to wrapped qualified
      // columns at their alias (the qualifier dies with the aggregate)
      wrappedQualified.foreach { case (q, display) =>
        val ts = tokenize(out)
        var d2 = 0
        var afterOrder = false
        val ps = ArrayBuffer.empty[(Int, Int, String)]
        ts.zipWithIndex.foreach { case (t2, k2) =>
          t2.text match {
            case "(" => d2 += 1
            case ")" => d2 -= 1
            case _ if d2 == 0 && t2.isWord("order") => afterOrder = true
            case _ if d2 == 0 && afterOrder && t2.kind == Word &&
                t2.text.equalsIgnoreCase(q) =>
              ps += ((t2.start, t2.end, s"`$display`"))
            case _ =>
          }
        }
        if (ps.nonEmpty) out = splice(out, ps.toSeq)
      }
      out
    }
  }

  // ---- inline VALUES tables with mixed literal types (retry-only):
  //      Spark's inline table requires compatible types; MySQL unifies
  //      int/decimal/numeric-string positions numerically (queries.go
  //      `SELECT DISTINCT val FROM (values row(1), row(1.00), row('2'))`
  //      → 1.00, 2.00). Rewrite the VALUES body to UNION ALL selects,
  //      unquoting positions where every literal is numeric so Spark's
  //      union coercion lands on DECIMAL like MySQL.

  private val NumLit = """^\s*-?\d+(\.\d+)?\s*$""".r

  def inlineTableUnion(sql: String): String = {
    // iterate: each pass rewrites the first VALUES group; loop until no
    // change so joins with several inline tables all convert
    var cur = sql
    var last = ""
    var rounds = 0
    while (cur != last && rounds < 8) {
      last = cur
      cur = inlineTableUnionOnce(cur)
      rounds += 1
    }
    cur
  }

  private def inlineTableUnionOnce(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("values") && i > 0 && toks(i - 1).text == "(") {
        // scan to the ')' closing the paren BEFORE values
        var depth = 0
        var j = i + 1
        var close = -1
        while (j < toks.length && close < 0) {
          toks(j).text match {
            case "(" => depth += 1
            case ")" if depth == 0 => close = j
            case ")" => depth -= 1
            case _ =>
          }
          j += 1
        }
        if (close > 0) {
          val body = sql.substring(toks(i).end, toks(close).start)
          val tuples = splitTopLevel(body).map(_.trim).filter(_.nonEmpty)
            .map { t0 =>
              val t = """(?is)^ROW\s*""".r.replaceFirstIn(t0, "")
              splitTopLevel(t.stripPrefix("(").stripSuffix(")"))
                .map(_.trim)
            }
          if (tuples.nonEmpty && tuples.forall(_.length == tuples.head.length)) {
            val width = tuples.head.length
            // a quoted literal keeps the whole column STRING-typed in
            // MySQL (queries.go mixed VALUES DISTINCT: int 2 and '2'
            // collapse through display while 1 and 1.00 stay distinct),
            // so when a position mixes quoted and numeric literals the
            // numerics quote to their own display text; Spark's union
            // coercion would have pulled the string to DECIMAL instead
            val stringify = (0 until width).map { cI =>
              val col = tuples.map(_(cI))
              cI -> (col.exists(_.startsWith("'")) &&
                col.forall(v => v.startsWith("'") ||
                  v.equalsIgnoreCase("null") ||
                  NumLit.findFirstIn(v).isDefined))
            }.toMap
            val selects = tuples.map { tup =>
              // MySQL names VALUES-table columns column_0, column_1… —
              // the Dialect pass has ALREADY renamed query references to
              // Spark's col1, col2… (1-based), so the lifted selects
              // alias to those
              "SELECT " + tup.zipWithIndex.map { case (v, cI) =>
                val v2 =
                  if (stringify(cI) && !v.startsWith("'") &&
                      !v.equalsIgnoreCase("null")) s"'${v.trim}'"
                  else v
                s"$v2 AS col${cI + 1}"
              }.mkString(", ")
            }
            return sql.substring(0, toks(i).start) +
              selects.mkString(" UNION ALL ") + sql.substring(toks(close).start)
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Top-level SELECT branches of a statement (union members included):
    * (selectAt, fromAt, whereAt, groupAt, havingAt) token indices, -1
    * when the clause is absent in that branch. */
  private final case class SelBranch(selectAt: Int) {
    var fromAt: Int = -1; var whereAt: Int = -1
    var groupAt: Int = -1; var havingAt: Int = -1
  }

  private def topSelects(toks: Vector[Tok]): Seq[SelBranch] = {
    val sels = ArrayBuffer.empty[SelBranch]
    var depth = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && t.kind == Word =>
          t.text.toLowerCase match {
            case "select" => sels += SelBranch(k)
            case "from" if sels.nonEmpty && sels.last.fromAt < 0 =>
              sels.last.fromAt = k
            case "where" if sels.nonEmpty && sels.last.whereAt < 0 =>
              sels.last.whereAt = k
            // GROUP must be the clause keyword (GROUP BY), not the
            // GROUP of a listagg WITHIN GROUP (ORDER BY …) spec
            case "group" if sels.nonEmpty && sels.last.groupAt < 0 &&
                k + 1 < toks.length && toks(k + 1).isWord("by") =>
              sels.last.groupAt = k
            case "having" if sels.nonEmpty && sels.last.havingAt < 0 =>
              sels.last.havingAt = k
            case _ =>
          }
        case _ =>
      }
    }
    sels.toSeq
  }

  /** alias -> select-list expression text for one branch's select list
    * (top-level comma split; `expr AS alias` or trailing implicit
    * `expr alias`). */
  private def selectAliases(sql: String, toks: Vector[Tok],
                            selectAt: Int, fromAt: Int)
      : Map[String, String] = {
    val aliases = scala.collection.mutable.Map.empty[String, String]
    var d = 0
    var itemStart = selectAt + 1
    val items = ArrayBuffer.empty[(Int, Int)] // token [from, until)
    (selectAt + 1 until fromAt).foreach { k =>
      toks(k).text match {
        case "(" => d += 1
        case ")" => d -= 1
        case "," if d == 0 => items += ((itemStart, k)); itemStart = k + 1
        case _ =>
      }
    }
    items += ((itemStart, fromAt))
    items.foreach { case (from0, until) =>
      val from = // skip a leading DISTINCT/ALL qualifier on the first item
        if (from0 < until && (toks(from0).isWord("distinct") ||
            toks(from0).isWord("all"))) from0 + 1 else from0
      val item = toks.slice(from, until)
      if (item.length >= 3 && item(item.length - 2).isWord("as") &&
          item.last.kind == Word) {
        val a = item.last.text.toLowerCase
        if (!aliases.contains(a)) // duplicate alias: MySQL binds the FIRST
          aliases(a) = sql.substring(item.head.start, item(item.length - 3).end)
      } else if (item.length >= 2 && item.last.kind == Word &&
          !item.last.text.head.isDigit &&
          (item(item.length - 2).kind == Lit ||
           item(item.length - 2).text == ")" ||
           item(item.length - 2).kind == Word)) {
        val a = item.last.text.toLowerCase
        if (!aliases.contains(a))
          aliases(a) = sql.substring(item.head.start, item(item.length - 2).end)
      }
    }
    aliases.toMap
  }

  /** [start, condEnd] token span of the condition following clause
    * token `at` (HAVING/WHERE), stopping at the next top-level clause. */
  private def condSpanEnd(toks: Vector[Tok], at: Int): Int = {
    var j = at + 1
    var d = 0
    var condEnd = at
    var stop = false
    while (j < toks.length && !stop) {
      val u = toks(j)
      u.text match {
        case "(" => d += 1
        case ")" if d == 0 => stop = true
        case ")" => d -= 1
        case ";" if d == 0 => stop = true
        case w if d == 0 && u.kind == Word &&
            havingCondStops(w.toLowerCase) => stop = true
        case _ =>
      }
      if (!stop) { condEnd = j; j += 1 }
    }
    condEnd
  }

  /** Render toks[from..to] with depth-0 alias references substituted by
    * their (parenthesized) select-list expressions; qualified names
    * (t1.u) are single tokens and never match an alias. */
  private def renderWithAliases(toks: Vector[Tok], from: Int, to: Int,
                                aliases: Map[String, String]): String = {
    val cond = new StringBuilder
    (from to to).foreach { k =>
      val t = toks(k)
      val isCall = k + 1 <= to && toks(k + 1).text == "("
      val sub =
        if (t.kind == Word && !isCall && aliases.contains(t.text.toLowerCase))
          s"(${aliases(t.text.toLowerCase)})"
        else t.text
      if (cond.nonEmpty) cond.append(' ')
      cond.append(sub)
    }
    cond.result()
  }

  /** Retry-only (MISSING_AGGREGATION): a bare GROUP BY key that names a
    * select ALIAS of an expression groups by THAT EXPRESSION in MySQL,
    * even when a table column shares the name (`SELECT col2-100 AS col0
    * … GROUP BY col0` groups by col2-100 — reference
    * planbuilder/aggregates.go alias preference; script_queries.go
    * "group by having with conflicting aliases test"). Spark binds the
    * table column and errors on the un-grouped expression; expand the
    * key to the aliased expression text. */
  def groupKeyAliasExpand(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    topSelects(toks).foreach { s =>
      if (s.groupAt >= 0 && s.fromAt > s.selectAt) {
        val aliases = selectAliases(sql, toks, s.selectAt, s.fromAt)
        // GROUP BY key list: from after BY to the next clause keyword
        var k = s.groupAt + 2
        var depth = 0
        var stop = false
        while (k < toks.length && !stop) {
          val t = toks(k)
          t.text match {
            case "(" => depth += 1
            case ")" if depth > 0 => depth -= 1
            case ")" => stop = true
            case _ if depth == 0 && t.kind == Word &&
                Set("having", "order", "limit", "union", "intersect",
                  "except", "window")(t.text.toLowerCase) =>
              stop = true
            case _ if depth == 0 && t.kind == Word =>
              val id = t.text.toLowerCase.replace("`", "")
              // a bare single-token key only (preceded/followed by
              // list punctuation or clause bounds)
              val prevOk = k == s.groupAt + 2 || toks(k - 1).text == ","
              val nextOk = k + 1 >= toks.length ||
                Set(",", ";", ")").contains(toks(k + 1).text) ||
                (toks(k + 1).kind == Word &&
                  Set("having", "order", "limit", "union", "intersect",
                    "except", "window", "asc", "desc")(
                    toks(k + 1).text.toLowerCase))
              aliases.get(id).foreach { e =>
                val isSelf = e.toLowerCase.replace("`", "").trim == id
                if (prevOk && nextOk && !isSelf)
                  patches += ((t.start, t.end, s"($e)"))
              }
            case _ =>
          }
          k += 1
        }
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  def havingNoGroup(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    // every top-level branch with HAVING but no GROUP BY converts
    // (union members each get their own rewrite)
    topSelects(toks).foreach { s =>
      if (s.havingAt >= 0 && s.groupAt < 0 && s.fromAt > s.selectAt) {
        val aliases = selectAliases(sql, toks, s.selectAt, s.fromAt)
        val condEnd = condSpanEnd(toks, s.havingAt)
        // HAVING without GROUP BY may only reference select-list items:
        // an alias, or a column that IS some item's expression (`SELECT
        // col0 AS a … HAVING col0 = a` is legal; `SELECT col0+1 AS a …
        // HAVING col0 = a` is MySQL 1054 — script_queries.go "group by
        // having with conflicting aliases test" error rows)
        // `SELECT *` (or t.*) selects every column — any table column is
        // then a legal HAVING reference; skip the validation
        val hasStar = (s.selectAt + 1 until s.fromAt).exists { k =>
          toks(k).text == "*" ||
            (toks(k).kind == Word && toks(k).text.endsWith(".*"))
        }
        if (condEnd > s.havingAt && !hasStar) {
          val norm = (t: String) =>
            t.toLowerCase.replace("`", "").replaceAll("\\s+", "")
          val exprSet = {
            val out = scala.collection.mutable.Set.empty[String]
            aliases.values.foreach(v => out += norm(v))
            // unaliased items: the full item text is the expression
            splitTopLevel(
              sql.substring(toks(s.selectAt).end, toks(s.fromAt).start))
              .foreach(it => out += norm(it))
            out
          }
          val kw = Set("and", "or", "xor", "not", "is", "null", "true",
            "false", "unknown", "like", "rlike", "regexp", "in",
            "between", "div", "mod", "escape", "interval", "case",
            "when", "then", "else", "end", "asc", "desc", "distinct")
          ((s.havingAt + 1) to condEnd).foreach { k =>
            val t = toks(k)
            if (t.kind == Word && !t.text.head.isDigit &&
                t.text.head != '@' && !kw(t.text.toLowerCase) &&
                !(k + 1 <= condEnd && toks(k + 1).text == "(")) {
              val id = t.text.toLowerCase.replace("`", "")
              val bare = id.substring(id.lastIndexOf('.') + 1)
              if (!aliases.contains(bare) && !exprSet(norm(t.text)) &&
                  !exprSet(bare))
                throw new IllegalArgumentException(
                  s"Unknown column '${t.text}' in 'having clause' " +
                  "(MySQL error 1054)")
            }
          }
        }
        if (condEnd > s.havingAt) {
          val cond = renderWithAliases(toks, s.havingAt + 1, condEnd, aliases)
          if (s.whereAt >= 0 && s.whereAt < s.havingAt) {
            // wrap the existing WHERE condition, then AND-merge
            patches += ((toks(s.whereAt + 1).start, toks(s.havingAt - 1).end,
              s"(${sql.substring(toks(s.whereAt + 1).start, toks(s.havingAt - 1).end)})"))
            patches += ((toks(s.havingAt).start, toks(condEnd).end,
              s"AND ($cond)"))
          } else {
            patches += ((toks(s.havingAt).start, toks(condEnd).end,
              s"WHERE ($cond)"))
          }
        }
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Retry-only (UNRESOLVED_COLUMN naming a 2-levels-out reference):
    * rewrite `X IN (SELECT e FROM t [a] [WHERE c])` into a LEFT SEMI
    * JOIN in the ENCLOSING query. Every reference inside the subquery
    * moves one level up — Spark resolves outer references one level
    * only, so `... WHERE c1 IN (SELECT c4 FROM t WHERE c3 > opk.c5)`
    * (opk two scopes out, reference queries.go correlated blocks)
    * becomes resolvable: the opk reference lands in a join condition
    * one level below its scope. NULL-IN vs semi-join divergence is
    * immaterial in WHERE context (NULL filters like FALSE).
    * `cols(table)` resolves a table's lowercase column names (empty =
    * unknown table -> bail). Only fires when `needle` (the unresolved
    * reference) appears inside the subquery body. */
  def deepInSemiJoin(sql: String, needle: String,
                     cols: String => Seq[String]): String = {
    val toks = tokenize(sql)
    // paren depth at each token
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    val stopsLeft = Set("and", "or", "where", "not", "having", "on", "when", "then")
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("in") && i + 2 < toks.length &&
          toks(i + 1).text == "(" && toks(i + 2).isWord("select")) {
        // subquery span
        var close = i + 2
        while (close < toks.length &&
               !(toks(close).text == ")" && depth(close) == depth(i + 1)))
          close += 1
        val subRange = (i + 2) until close
        val hasNeedle = subRange.exists(k =>
          toks(k).kind == Word && toks(k).text.equalsIgnoreCase(needle))
        if (hasNeedle && close < toks.length) {
          val subDepth = depth(i + 2)
          // inner: SELECT e FROM tbl [alias] [WHERE cond] — bail on any
          // other clause shape
          var fromAt = -1; var whereAt = -1; var bad = false
          subRange.drop(1).foreach { k =>
            if (depth(k) == subDepth && toks(k).kind == Word)
              toks(k).text.toLowerCase match {
                case "from" if fromAt < 0 => fromAt = k
                case "where" if whereAt < 0 => whereAt = k
                case "join" | "group" | "order" | "limit" | "union" |
                     "intersect" | "except" | "distinct" | "having" =>
                  bad = true
                case _ =>
              }
            if (depth(k) == subDepth && toks(k).text == ",") bad = true
          }
          if (!bad && fromAt > 0) {
            val innerTblAt = fromAt + 1
            val innerTbl = toks(innerTblAt).text
            val innerCols = cols(innerTbl.toLowerCase).map(_.toLowerCase).toSet
            // optional inner alias
            val aliasAt = innerTblAt + 1
            val innerAliasTok =
              if (aliasAt < close && toks(aliasAt).kind == Word &&
                  !toks(aliasAt).isWord("where")) Some(toks(aliasAt).text)
              else None
            val eEnd = fromAt - 1
            val eStart = i + 3
            val condStart = if (whereAt > 0) whereAt + 1 else -1
            val condEnd = close - 1
            if (innerCols.nonEmpty && eEnd >= eStart) {
              // X span: walk left from IN to the conjunct boundary
              var xStart = i - 1
              var bail = false
              var rel = 0 // paren balance walking left
              var k = i - 1
              var found = -1
              while (k >= 0 && found < 0 && !bail) {
                val t = toks(k)
                if (t.text == ")") rel += 1
                else if (t.text == "(") {
                  if (rel == 0) found = k + 1 else rel -= 1
                } else if (rel == 0 && t.kind == Word &&
                           stopsLeft(t.text.toLowerCase)) found = k + 1
                else if (rel < 0) bail = true
                if (found < 0) k -= 1
              }
              if (found >= 0) xStart = found
              if (k < 0) bail = true
              // only fire under a pure AND-conjunction: a left boundary
              // of OR/NOT (disjunct / negated predicate) or a trailing
              // OR makes the TRUE+semi-join splice change semantics
              if (found >= 1 && (toks(found - 1).isWord("or") ||
                                 toks(found - 1).isWord("not"))) bail = true
              if (close + 1 < toks.length && toks(close + 1).isWord("or"))
                bail = true
              // enclosing select at the IN site's depth
              val encDepth = depth(i)
              var selAt = -1
              var m = i
              while (m >= 0 && selAt < 0) {
                if (toks(m).isWord("select") && depth(m) == encDepth) selAt = m
                m -= 1
              }
              // enclosing FROM: single table [alias], then WHERE
              var encFromAt = -1; var encWhereAt = -1
              var p = selAt
              while (p >= 0 && p < i && (encFromAt < 0 || encWhereAt < 0)) {
                if (depth(p) == encDepth && toks(p).kind == Word) {
                  if (encFromAt < 0 && toks(p).isWord("from")) encFromAt = p
                  else if (encWhereAt < 0 && toks(p).isWord("where"))
                    encWhereAt = p
                }
                p += 1
              }
              if (!bail && selAt >= 0 && encFromAt > 0 && encWhereAt > encFromAt) {
                val outTbl = toks(encFromAt + 1).text
                val outAliasTok =
                  if (encFromAt + 2 < i && toks(encFromAt + 2).kind == Word &&
                      !toks(encFromAt + 2).isWord("where"))
                    Some(toks(encFromAt + 2).text)
                  else None
                val outCols = cols(outTbl.toLowerCase).map(_.toLowerCase).toSet
                val outQual = outAliasTok.getOrElse(outTbl)
                // keep the subquery's own alias when it had one so its
                // qualified references (mt2.i) keep resolving
                val innerQual = innerAliasTok.getOrElse("__sj" + i)
                // render a token span, qualifying unqualified member
                // columns of `members` with `qual`
                def render(from: Int, to: Int, members: Set[String],
                           qual: String): String = {
                  val sb = new StringBuilder
                  (from to to).foreach { k =>
                    val t = toks(k)
                    val isCall = k + 1 <= to && toks(k + 1).text == "("
                    val txt =
                      if (t.kind == Word && !isCall && !t.text.contains(".") &&
                          members(t.text.toLowerCase)) s"$qual.${t.text}"
                      else t.text
                    if (sb.nonEmpty) sb.append(' ')
                    sb.append(txt)
                  }
                  sb.result()
                }
                val xTxt = render(xStart, i - 1, outCols, outQual)
                val eTxt = render(eStart, eEnd, innerCols, innerQual)
                val condTxt =
                  if (condStart > 0 && condEnd >= condStart)
                    " AND (" + render(condStart, condEnd, innerCols, innerQual) + ")"
                  else ""
                val joinTxt = s" LEFT SEMI JOIN $innerTbl $innerQual " +
                  s"ON ($xTxt) = ($eTxt)$condTxt "
                return splice(sql, Seq(
                  (toks(encWhereAt).start, toks(encWhereAt).start, joinTxt),
                  (toks(xStart).start, toks(close).end, "TRUE")))
              }
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Retry-only (UNRESOLVED_COLUMN naming a select-list alias): MySQL
    * resolves an outer select's ALIAS inside a select-list subquery
    * (`SELECT pk AS a, (SELECT max(pk) FROM t WHERE pk <= a) ...`);
    * Spark does not. A literal alias substitutes directly; a column
    * alias pushes into a derived table `(SELECT *, expr AS a FROM t)`
    * aliased by the original qualifier so every other reference keeps
    * resolving. */
  def aliasIntoSubquery(sql: String, name: String): String = {
    val toks = tokenize(sql)
    val sels = topSelects(toks)
    if (sels.isEmpty) return sql
    val s = sels.head
    val listEnd =
      if (s.fromAt > s.selectAt) s.fromAt
      else toks.length // fromless: list runs to the end
    val aliases = selectAliases(sql, toks, s.selectAt, listEnd)
    val expr = aliases.getOrElse(name.toLowerCase, return sql)
    val exprToks = tokenize(expr)
    val isLiteral = exprToks.length == 1 &&
      (exprToks.head.kind == Lit || exprToks.head.text.forall(
        c => c.isDigit || c == '.' || c == '-'))
    // paren depth per token
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    if (isLiteral) {
      // substitute the literal for alias references INSIDE subqueries
      // (depth >= 1) of the select list
      val patches = ArrayBuffer.empty[(Int, Int, String)]
      ((s.selectAt + 1) until math.min(listEnd, toks.length)).foreach { k =>
        val t = toks(k)
        if (t.kind == Word && depth(k) >= 1 &&
            t.text.equalsIgnoreCase(name) &&
            !(k + 1 < toks.length && toks(k + 1).text == "("))
          patches += ((t.start, t.end, s"($expr)"))
      }
      if (patches.isEmpty) sql else splice(sql, patches.toSeq)
    } else {
      // only fires when the alias is referenced INSIDE a select-list
      // subquery — a bare WHERE reference to a projection alias stays
      // MySQL error 1054 (column_alias_queries.go)
      val inListSubquery = ((s.selectAt + 1) until
        math.min(listEnd, toks.length)).exists(k =>
        toks(k).kind == Word && depth(k) >= 1 &&
          toks(k).text.equalsIgnoreCase(name))
      if (!inListSubquery) return sql
      // FROM single-table shape only
      if (s.fromAt < 0) return sql
      val tblAt = s.fromAt + 1
      if (tblAt >= toks.length || toks(tblAt).kind != Word) return sql
      val tbl = toks(tblAt).text
      val clauseStops = Set("where", "group", "order", "limit", "offset",
        "union", "having", "join", "on", "left", "right", "inner", "cross")
      val aliasTok =
        if (tblAt + 1 < toks.length && toks(tblAt + 1).kind == Word &&
            !clauseStops(toks(tblAt + 1).text.toLowerCase))
          Some(toks(tblAt + 1).text)
        else None
      // anything else joined in? bail when the next token after the
      // [alias] is not a clause stop / statement end
      val afterAt = tblAt + (if (aliasTok.isDefined) 2 else 1)
      if (afterAt < toks.length && toks(afterAt).kind == Word &&
          !clauseStops(toks(afterAt).text.toLowerCase)) return sql
      if (afterAt < toks.length && !(toks(afterAt).kind == Word)) {
        if (toks(afterAt).text != ";") return sql
      }
      val qual = aliasTok.getOrElse(tbl)
      val fromEnd = toks(tblAt + (if (aliasTok.isDefined) 1 else 0)).end
      splice(sql, Seq((toks(tblAt).start, fromEnd,
        s"(SELECT *, $expr AS $name FROM $tbl) $qual")))
    }
  }

  /** Row-value comparisons with SUBQUERY sides (retry-only, reached
    * through the SCALAR_SUBQUERY/ASSIGNMENT_ARITY retry): MySQL allows
    * `(SELECT a, b ...) = ((1, 2))` and `(SELECT a, b ...) IN
    * (SELECT c, d ...)` (queries.go dual row-value block). `=` becomes
    * a scalar BOOLEAN subquery of pairwise comparisons (empty subquery
    * -> NULL, exact 3VL); IN becomes EXISTS over the aliased RHS with
    * the pairwise `=` subquery correlated in. One site per call. */
  /** MySQL bit literals: b'0101' / B'0101' (adjacent Word+Lit tokens)
    * and 0b0101 words become their integer value (reference types
    * bit literals; Spark rejects the typed-literal spelling). */
  def bitLiterals(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      if (t.kind == Word && (t.text == "b" || t.text == "B") &&
          k + 1 < toks.length && toks(k + 1).kind == Lit &&
          toks(k + 1).start == t.end &&
          toks(k + 1).text.startsWith("'")) {
        val body = toks(k + 1).text.stripPrefix("'").stripSuffix("'")
        if (body.nonEmpty && body.length <= 64 && body.forall(c => c == '0' || c == '1')) {
          patches += ((t.start, toks(k + 1).end,
            java.lang.Long.parseUnsignedLong(body, 2).toString))
          k += 1
        }
      } else if (t.kind == Word && t.text.length > 2 &&
          (t.text.startsWith("0b") || t.text.startsWith("0B")) &&
          t.text.drop(2).forall(c => c == '0' || c == '1') &&
          t.text.length <= 66) {
        patches += ((t.start, t.end,
          java.lang.Long.parseUnsignedLong(t.text.drop(2), 2).toString))
      }
      k += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Fixpoint of [[tupleSubqueryCompare]] (one site per inner call). */
  def tupleSubqueryAll(sql: String): String = {
    var cur = sql
    var n = 0
    while (n < 10) {
      val next = tupleSubqueryCompare(cur)
      if (next == cur) return cur
      cur = next; n += 1
    }
    cur
  }

  def tupleSubqueryCompare(sql: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    def matchOpen(close: Int): Int = {
      var k = close - 1
      while (k >= 0 && !(toks(k).text == "(" && depth(k) == depth(close))) k -= 1
      k
    }
    def matchClose(open: Int): Int = {
      var k = open + 1
      while (k < toks.length &&
             !(toks(k).text == ")" && depth(k) == depth(open))) k += 1
      k
    }
    /** (items, fromTail) for a paren span: subquery -> select items +
      * FROM..end text; plain tuple -> comma items + "". None if not
      * splittable into >= 2 items. */
    def operand(open: Int, close: Int): Option[(Seq[String], String, Boolean)] = {
      if (close <= open + 1) return None
      val isSubq = toks(open + 1).isWord("select")
      val inner = depth(open) + 1
      val itemsFrom = if (isSubq) open + 2 else open + 1
      var fromAt = -1
      val cuts = ArrayBuffer.empty[Int]
      var k = itemsFrom
      while (k < close && fromAt < 0) {
        if (depth(k) == inner) {
          if (toks(k).text == ",") cuts += k
          else if (isSubq && toks(k).kind == Word &&
                   toks(k).isWord("from")) fromAt = k
        }
        k += 1
      }
      val end = if (fromAt > 0) fromAt else close
      if (cuts.isEmpty) return None
      val bounds = (itemsFrom +: cuts.map(_ + 1)) zip
        (cuts.toSeq :+ end)
      val items = bounds.map { case (a, b) =>
        if (b <= a) return None
        sql.substring(toks(a).start, toks(b - 1).end)
      }
      val tail =
        if (fromAt > 0) sql.substring(toks(fromAt).start, toks(close - 1).end)
        else ""
      Some((items.toSeq, tail, isSubq))
    }
    var k = 0
    while (k < toks.length) {
      val isEq = toks(k).text == "="
      val isIn = toks(k).isWord("in")
      if ((isEq || isIn) && k > 0 && k + 1 < toks.length &&
          toks(k - 1).text == ")" && toks(k + 1).text == "(") {
        val lClose = k - 1
        val lOpen = matchOpen(lClose)
        var rOpen = k + 1
        var rClose = matchClose(rOpen)
        val rCloseOuter = rClose
        // `= ((1, 2))`: unwrap one redundant paren level
        if (isEq && toks(rOpen + 1).text == "(" &&
            matchClose(rOpen + 1) == rClose - 1) {
          rOpen += 1; rClose -= 1
        }
        (operand(lOpen, lClose), operand(rOpen, rClose)) match {
          case (Some((li, lt, lSub)), Some((ri, rt, rSub)))
              if li.size == ri.size && li.size >= 2 && (lSub || rSub) =>
            val repl =
              if (isEq && !(lSub && rSub)) {
                // pairwise scalar-boolean subquery around the subq side
                val (items, tail, vals) =
                  if (lSub) (li, lt, ri) else (ri, rt, li)
                val cmp = items.zip(vals)
                  .map { case (a, b) => s"(($a) = ($b))" }.mkString(" AND ")
                Some(s"(SELECT $cmp $tail)")
              } else if (isIn && lSub && rSub) {
                val as = ri.indices.map(i => s"__ta$i")
                val proj = ri.zip(as)
                  .map { case (f, a) => s"($f) AS $a" }.mkString(", ")
                val cmp = li.zip(as)
                  .map { case (e, a) => s"(($e) = __tr.$a)" }.mkString(" AND ")
                Some(s"EXISTS (SELECT 1 FROM (SELECT $proj $rt) __tr " +
                  s"WHERE (SELECT $cmp $lt))")
              } else None
            repl match {
              case Some(r) =>
                return splice(sql,
                  Seq((toks(lOpen).start, toks(rCloseOuter).end, r)))
              case None => ()
            }
          case _ => ()
        }
      }
      k += 1
    }
    sql
  }

  /** `( <union body> ORDER BY ... [LIMIT n] ) UNION <rest>`: the
    * reference's parser attaches a parenthesized first branch's trailing
    * ORDER BY/LIMIT to the WHOLE union statement (queries.go
    * with-a/with-b blocks expect the limit over all branches), unlike
    * stock MySQL's block-local reading. Move the tail clause to the
    * statement end. */
  def hoistParenUnionTail(sql: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    var k = 0
    while (k < toks.length) {
      if (toks(k).text == "(" && depth(k) == 0) {
        var close = k + 1
        while (close < toks.length &&
               !(toks(close).text == ")" && depth(close) == 0)) close += 1
        if (close + 1 < toks.length && toks(close + 1).isWord("union")) {
          // trailing ORDER BY/LIMIT inside the parens at inner depth
          var tailStart = -1
          var sawInnerSetOp = false
          var j = k + 1
          while (j < close) {
            if (depth(j) == 1 && toks(j).kind == Word) {
              val w = toks(j).text.toLowerCase
              if (w == "order" && j + 1 < close && toks(j + 1).isWord("by") &&
                  tailStart < 0) tailStart = j
              else if (w == "limit" && tailStart < 0) tailStart = j
              else if (Set("union", "intersect", "except")(w)) {
                tailStart = -1; sawInnerSetOp = true
              }
            }
            j += 1
          }
          // the reference hoists ONLY when the paren group itself holds
          // a set operation (`(A union B order by … limit n) union C` —
          // the vitess parse artifact). A parenthesized SINGLE select's
          // tail stays branch-local (script_queries.go "topN stable
          // output": `(select … limit 1 offset 1) union (… offset 2)`).
          if (tailStart > 0 && sawInnerSetOp) {
            val tail = sql.substring(toks(tailStart).start,
              toks(close - 1).end)
            val stmtEnd = sql.replaceAll("[;\\s]+$", "").length
            return splice(sql, Seq(
              (toks(tailStart).start, toks(close - 1).end, ""),
              (stmtEnd, stmtEnd, " " + tail)))
          }
        }
        k = close
      }
      k += 1
    }
    sql
  }

  /** `WITH a AS (...) ( WITH c AS (...) SELECT ... ) UNION SELECT ...`:
    * the reference leaks a parenthesized branch's CTEs into the rest of
    * the statement (queries.go nested-WITH union block reads `c` in a
    * later branch). Hoist the inner WITH bindings into the outer list. */
  def hoistNestedWith(sql: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    // top-level `( with` where the paren is at depth 0
    var k = 0
    while (k < toks.length - 1) {
      if (toks(k).text == "(" && depth(k) == 0 && toks(k + 1).isWord("with") &&
          !(k + 2 < toks.length && toks(k + 2).isWord("recursive"))) {
        // binding list runs from k+2 until the first token after a
        // binding's close paren that is not ','
        var pos = k + 2
        var lastEnd = -1
        var more = true
        while (more && pos < toks.length) {
          // name [(cols)] AS ( body )
          var p = pos
          if (toks(p).kind != Word) { more = false }
          else {
            p += 1
            if (p < toks.length && toks(p).text == "(") {
              while (p < toks.length && toks(p).text != ")") p += 1
              p += 1
            }
            if (p < toks.length && toks(p).isWord("as") &&
                p + 1 < toks.length && toks(p + 1).text == "(") {
              val dd = depth(p + 1)
              var q = p + 2
              while (q < toks.length &&
                     !(toks(q).text == ")" && depth(q) == dd)) q += 1
              lastEnd = q
              if (q + 1 < toks.length && toks(q + 1).text == ",") {
                pos = q + 2
              } else more = false
            } else { more = false; lastEnd = -1 }
          }
        }
        if (lastEnd > 0) {
          val bindings = sql.substring(toks(k + 2).start, toks(lastEnd).end)
          // collect the hoisted names; hoist ONLY when some name is
          // referenced AFTER the paren's close (the reference's scope
          // leak) — block-local inner WITHs (including shadowing ones)
          // stay where Spark handles them natively
          val innerNames = {
            val b = Seq.newBuilder[String]
            var p = k + 2
            while (p <= lastEnd) {
              if (toks(p).isWord("as") && p > k + 2 &&
                  p + 1 <= lastEnd && toks(p + 1).text == "(") {
                val nameAt =
                  if (toks(p - 1).text == ")") {
                    var q = p - 1
                    while (q > k + 1 && toks(q).text != "(") q -= 1
                    q - 1
                  } else p - 1
                if (nameAt > k + 1 && toks(nameAt).kind == Word)
                  b += toks(nameAt).text.toLowerCase
                // skip this binding's body
                val dd = depth(p + 1)
                var q = p + 2
                while (q < toks.length &&
                       !(toks(q).text == ")" && depth(q) == dd)) q += 1
                p = q
              }
              p += 1
            }
            b.result().toSet
          }
          var close = k + 1
          while (close < toks.length &&
                 !(toks(close).text == ")" && depth(close) == 0)) close += 1
          val referencedOutside = ((close + 1) until toks.length).exists(q =>
            toks(q).kind == Word && innerNames(toks(q).text.toLowerCase))
          val outerWith = toks.nonEmpty && toks.head.isWord("with")
          // outer binding names must not collide
          val outerNames: Set[String] =
            if (!outerWith) Set.empty
            else {
              val b = Seq.newBuilder[String]
              var p = 1
              var stop = false
              while (!stop && p < k) {
                if (toks(p).kind == Word && p + 1 < toks.length &&
                    (toks(p + 1).isWord("as") || toks(p + 1).text == "(")) {
                  b += toks(p).text.toLowerCase
                  // skip to this binding's AS ( body )
                  var q = p + 1
                  while (q < k && !toks(q).isWord("as")) q += 1
                  if (q + 1 < k && toks(q + 1).text == "(") {
                    val dd = depth(q + 1)
                    var r = q + 2
                    while (r < toks.length &&
                           !(toks(r).text == ")" && depth(r) == dd)) r += 1
                    if (r + 1 < k && toks(r + 1).text == ",") p = r + 1
                    else { stop = true; p = r }
                  } else stop = true
                } 
                p += 1
              }
              b.result().toSet
            }
          if (referencedOutside && innerNames.nonEmpty &&
              innerNames.intersect(outerNames).isEmpty) {
            val rmStart = toks(k + 1).start
            val rmEnd = toks(lastEnd).end
            return if (outerWith) {
              // append to the END of the outer binding list — just
              // before the outer main body, which starts at the first
              // depth-0 token after the outer bindings; the paren we
              // matched is within that body, so find the outer list's
              // end: the last top-level binding close before the body
              // (insertion right before token k is only correct when k
              // IS the body start, so insert before the outer SELECT/
              // paren that follows the binding list)
              val bodyStart = {
                var p = 1
                var last = k // fallback
                var found = -1
                while (p < toks.length && found < 0) {
                  // binding shape: name [(cols)] AS ( ... ) [,]
                  if (toks(p).isWord("as") && p + 1 < toks.length &&
                      toks(p + 1).text == "(") {
                    val dd = depth(p + 1)
                    var r = p + 2
                    while (r < toks.length &&
                           !(toks(r).text == ")" && depth(r) == dd)) r += 1
                    if (r + 1 < toks.length && toks(r + 1).text == ",") p = r + 1
                    else found = r + 1
                  }
                  p += 1
                }
                if (found < 0) last else found
              }
              splice(sql, Seq(
                (toks(bodyStart).start, toks(bodyStart).start, s", $bindings "),
                (rmStart, rmEnd, "")))
            } else {
              splice(sql, Seq(
                (0, 0, s"WITH $bindings "),
                (rmStart, rmEnd, "")))
            }
          }
        }
      }
      k += 1
    }
    sql
  }

  /** Top-level `... UNION [ALL] ... LIMIT n OFFSET m` (no ORDER BY):
    * Some((statement without the clause, n, m)) — the caller evaluates
    * branch-ordered and applies offset/limit on a single partition so
    * MySQL's natural row order (first branch first) holds. */
  def unionAllLimitOffset(sql: String): Option[(String, Int, Int)] = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    val hasUnion = toks.indices.exists(k =>
      depth(k) == 0 && toks(k).isWord("union"))
    val hasOrder = toks.indices.exists(k =>
      depth(k) == 0 && toks(k).isWord("order"))
    if (!hasUnion || hasOrder) return None
    // trailing shapes: LIMIT n OFFSET m | LIMIT m , n
    val t = toks.reverse.dropWhile(_.text == ";").reverse
    val n = t.length
    def num(i: Int): Option[Int] =
      if (i >= 0 && i < n && t(i).kind == Word &&
          t(i).text.forall(_.isDigit)) Some(t(i).text.toInt) else None
    if (n >= 4 && t(n - 4).isWord("limit") && t(n - 2).isWord("offset") &&
        depth(n - 4) == 0) {
      for (lim <- num(n - 3); off <- num(n - 1))
        yield (sql.substring(0, t(n - 4).start), lim, off)
    } else if (n >= 4 && t(n - 4).isWord("limit") && t(n - 2).text == "," &&
               depth(n - 4) == 0) {
      for (off <- num(n - 3); lim <- num(n - 1))
        yield (sql.substring(0, t(n - 4).start), lim, off)
    } else None
  }

  /** `X [NOT] IN (SELECT ...)` in a NULL-OBSERVABLE position: Spark's
    * existence-join evaluation loses MySQL's 3-valued logic outside
    * pure filter conjuncts (NULL IN (empty) must be FALSE; no-match
    * over a null-bearing set must be NULL — queries.go niltable blocks,
    * sqllogictest subquery_correlated.txt "NULL IN" blocks). Expand to
    * the explicit CASE over count/exists probes (outer refs inside the
    * probes stay legal — Spark allows them in subquery WHERE at any
    * derived-table depth). Rewrites fire for INs in a top-level select
    * list (any paren depth, compound expressions included) and for INs
    * inside a parenthesized group immediately followed by IS — the
    * IS [NOT] NULL observation. WHERE-conjunct INs keep the native
    * semi-join plan (NULL behaves as FALSE there, so 2VL is exact and
    * the plan stays one join). */
  def inSubquerySelectList(sql: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    val matchOpen = new Array[Int](toks.length) // close idx -> open idx
    val openStack = scala.collection.mutable.ArrayDeque.empty[Int]
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1; openStack.append(k) }
      else if (t.text == ")") {
        d -= 1; depth(k) = d
        if (openStack.nonEmpty) matchOpen(k) = openStack.removeLast()
        else matchOpen(k) = -1
      } else depth(k) = d
    }
    val sels = topSelects(toks)
    if (sels.isEmpty) return sql
    // select-list spans of the top-level selects
    val listSpans = sels.map { s =>
      val e = if (s.fromAt > s.selectAt) s.fromAt
              else if (s.whereAt >= 0) s.whereAt else toks.length
      (s.selectAt, e)
    }
    val stopsLeft = Set("and", "or", "xor", "not", "when", "then", "else",
      "case", "select", "distinct", "where", "having", "on", "by", "in",
      "like", "between", "is", "end")
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var counter = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("in") && i + 2 < toks.length &&
          toks(i + 1).text == "(" && toks(i + 2).isWord("select")) {
        val inAt = i
        val isNot = inAt > 0 && toks(inAt - 1).isWord("not")
        // innermost enclosing '(' (if any)
        var encOpen = -1
        var rel = 0
        var k = inAt - 1
        while (k >= 0 && encOpen < 0) {
          if (toks(k).text == ")") rel += 1
          else if (toks(k).text == "(") {
            if (rel == 0) encOpen = k else rel -= 1
          }
          k -= 1
        }
        val encClose = if (encOpen >= 0) closeParenFor(toks, encOpen) else -1
        val insideNestedSelect = encOpen >= 0 &&
          encOpen + 1 < toks.length && toks(encOpen + 1).isWord("select")
        val inListSpan = listSpans.exists { case (a, b) => inAt > a && inAt < b }
        val isObserved = encOpen >= 0 && encClose > 0 &&
          encClose + 1 < toks.length && toks(encClose + 1).isWord("is")
        if ((inListSpan && !insideNestedSelect) ||
            (isObserved && !insideNestedSelect)) {
          // subquery close
          val close = closeParenFor(toks, inAt + 1)
          // X span: walk left to a boundary at the IN's level
          var xStart = -1
          var stop = false
          rel = 0
          k = (if (isNot) inAt - 2 else inAt - 1)
          val xEnd = k
          while (k >= 0 && !stop) {
            val t = toks(k)
            if (t.text == ")") rel += 1
            else if (t.text == "(") {
              if (rel == 0) { xStart = k + 1; stop = true } else rel -= 1
            } else if (rel == 0 && (t.text == "," ||
                       (t.kind == Sym && cmpSyms(t.text)) ||
                       (t.kind == Word && stopsLeft(t.text.toLowerCase)))) {
              xStart = k + 1; stop = true
            }
            if (!stop) k -= 1
          }
          if (xStart < 0) xStart = 0
          val lhsHasSelect =
            (xStart to xEnd).exists(k2 => toks(k2).isWord("select"))
          val lhsTuple = xEnd >= xStart && toks(xStart).text == "(" &&
            (xStart to xEnd).exists(k2 =>
              toks(k2).text == "," && depth(k2) == depth(inAt) + 1)
          val subMultiCol = {
            var k2 = inAt + 3; var multi = false; var seenFrom = false
            while (k2 < close && !seenFrom) {
              if (depth(k2) == depth(inAt + 2)) {
                if (toks(k2).isWord("from")) seenFrom = true
                else if (toks(k2).text == ",") multi = true
              }
              k2 += 1
            }
            multi
          }
          if (close > 0 && close < toks.length && xStart <= xEnd &&
              !lhsHasSelect && !lhsTuple && !subMultiCol) {
            val x = sql.substring(toks(xStart).start, toks(xEnd).end)
            val sub = sql.substring(toks(inAt + 1).end, toks(close).start)
            val a = s"__inq$counter"; counter += 1
            val core =
              s"CASE WHEN (SELECT count(*) FROM ($sub) $a) = 0 THEN FALSE " +
              s"WHEN ($x) IS NULL THEN CAST(NULL AS BOOLEAN) " +
              s"WHEN EXISTS (SELECT 1 FROM ($sub) $a(__v) WHERE __v = ($x)) THEN TRUE " +
              s"WHEN EXISTS (SELECT 1 FROM ($sub) $a(__v) WHERE __v IS NULL) THEN CAST(NULL AS BOOLEAN) " +
              "ELSE FALSE END"
            val repl = if (isNot) s"(NOT ($core))" else s"($core)"
            val from = if (isNot) toks(inAt - 1).start else toks(xStart).start
            patches += ((math.min(toks(xStart).start, from), toks(close).end,
              repl))
            i = close
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Retry-only (UNRESOLVED_COLUMN in ORDER BY of a DISTINCT select):
    * the reference orders DISTINCT output by a HIDDEN column — rows
    * sort first, then dedupe keeps the first-seen order — which is
    * GROUP BY select-items ORDER BY min(hidden) (binary string order,
    * matching queries.go bigtable expectations). */
  def distinctOrderByHidden(sql: String): String = {
    val toks = tokenize(sql)
    val sels = topSelects(toks)
    if (sels.size != 1) return sql
    val s = sels.head
    if (s.groupAt >= 0 || s.fromAt < s.selectAt ||
        !(s.selectAt + 1 < toks.length &&
          toks(s.selectAt + 1).isWord("distinct"))) return sql
    // top-level ORDER BY span
    var depth = 0
    var orderAt = -1
    toks.zipWithIndex.foreach { case (t, k) =>
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && t.isWord("order") && orderAt < 0 &&
            k + 1 < toks.length && toks(k + 1).isWord("by") => orderAt = k
        case _ =>
      }
    }
    if (orderAt < 0) return sql
    var j = orderAt + 2
    depth = 0
    var end = orderAt + 1
    var stop = false
    while (j < toks.length && !stop) {
      val u = toks(j)
      u.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case ";" if depth == 0 => stop = true
        case w if depth == 0 && u.kind == Word &&
            Set("limit", "offset")(w.toLowerCase) => stop = true
        case _ =>
      }
      if (!stop) { end = j; j += 1 }
    }
    val items = sql.substring(toks(s.selectAt + 1).end, toks(s.fromAt).start)
    // each ORDER BY key wraps in min(...), keeping ASC/DESC
    val keys = splitTopLevel(
      sql.substring(toks(orderAt + 2).start, toks(end).end)).map { k0 =>
      val k = k0.trim
      val m = "(?i)\\s+(ASC|DESC)$".r.findFirstMatchIn(k)
      m match {
        case Some(mm) =>
          s"min(${k.substring(0, mm.start)}) ${mm.group(1)}"
        case None => s"min($k)"
      }
    }
    splice(sql, Seq(
      (toks(s.selectAt).start, toks(s.selectAt + 1).end, "SELECT"),
      (toks(orderAt).start, toks(end).end,
        s"GROUP BY $items ORDER BY ${keys.mkString(", ")}")))
  }

  /** CAST(x AS JSON) / CAST(x AS YEAR) — Spark has neither type.
    * JSON: wrap in json_canon so the value is MySQL's canonical JSON
    * document text AND downstream comparisons can see the operand is a
    * JSON document (reference types/json.go Convert). YEAR: mysql_year
    * applies the 2-digit window + range (types/year.go). Token-level,
    * literal-aware; outermost-first like convertFn. */
  def jsonYearCasts(sql: String): String = {
    var text = sql
    var again = true
    while (again) {
      again = false
      val toks = tokenize(text)
      var idx = 0
      while (idx < toks.length && !again) {
        val t = toks(idx)
        if (t.isWord("cast") && idx + 1 < toks.length &&
            toks(idx + 1).text == "(") {
          var j = idx + 2
          var depth = 0
          var asAt = -1
          var close = -1
          while (j < toks.length && close < 0) {
            val u = toks(j)
            u.text match {
              case "(" => depth += 1
              case ")" if depth == 0 => close = j
              case ")" => depth -= 1
              case _ if depth == 0 && u.isWord("as") => asAt = j
              case _ =>
            }
            j += 1
          }
          if (close > 0 && asAt > idx + 2 && asAt + 1 < close) {
            val tpe = toks.slice(asAt + 1, close)
            val arg = text.substring(toks(idx + 2).start, toks(asAt - 1).end)
            if (tpe.length == 1 && tpe.head.isWord("json")) {
              text = text.substring(0, t.start) +
                s"json_canon(CAST(($arg) AS STRING))" +
                text.substring(toks(close).end)
              again = true
            } else if (tpe.length == 1 && tpe.head.isWord("year")) {
              text = text.substring(0, t.start) + s"mysql_year($arg)" +
                text.substring(toks(close).end)
              again = true
            }
          }
        }
        idx += 1
      }
    }
    text
  }

  /** ORDER BY over a GLOBAL aggregate (retry-only): MySQL accepts
    * `SELECT count(*) FROM t WHERE … ORDER BY hidden_col` — the result
    * is one row, so the sort is vacuous and the hidden column never
    * needs to resolve (queries.go people/keyless entries). Spark errors
    * UNRESOLVED_COLUMN. Strip the top-level ORDER BY (keeping LIMIT). */
  def stripOrderByGlobalAgg(sql: String): String = {
    val toks = tokenize(sql)
    val sels = topSelects(toks)
    if (sels.isEmpty) return sql
    val s = sels.last
    if (s.groupAt >= 0 || s.fromAt < 0) return sql
    // the aggregate must sit at the TOP level of the select list — an
    // aggregate inside a subquery item doesn't make the query global
    val aggNames = Set("sum", "count", "avg", "min", "max", "group_concat",
      "listagg", "bit_and", "bit_or", "bit_xor", "std", "stddev",
      "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance",
      "json_arrayagg", "json_objectagg", "approx_count_distinct")
    var dd = 0
    var topAgg = false
    ((s.selectAt + 1) until s.fromAt).foreach { k =>
      toks(k).text match {
        case "(" => dd += 1
        case ")" => dd -= 1
        case _ if dd == 0 && toks(k).kind == Word &&
            aggNames(toks(k).text.toLowerCase) &&
            k + 1 < s.fromAt && toks(k + 1).text == "(" => topAgg = true
        case _ =>
      }
    }
    if (!topAgg) return sql
    // top-level ORDER BY span
    var depth = 0
    var orderAt = -1
    toks.zipWithIndex.foreach { case (t, k) =>
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && t.isWord("order") && orderAt < 0 &&
            k + 1 < toks.length && toks(k + 1).isWord("by") => orderAt = k
        case _ =>
      }
    }
    if (orderAt < 0) return sql
    var j = orderAt + 2
    depth = 0
    var end = orderAt + 1
    var stop = false
    while (j < toks.length && !stop) {
      val u = toks(j)
      u.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case ";" if depth == 0 => stop = true
        case w if depth == 0 && u.kind == Word &&
            Set("limit", "offset", "union", "intersect", "except")(
              w.toLowerCase) => stop = true
        case _ =>
      }
      if (!stop) { end = j; j += 1 }
    }
    splice(sql, Seq((toks(orderAt).start, toks(end).end, "")))
  }

  /** GROUP BY + HAVING alias substitution (retry-only, for
    * AMBIGUOUS_REFERENCE): when two select items share an alias, MySQL
    * binds GROUP BY/HAVING references to the FIRST (with a 1052-adjacent
    * warning); Spark errors. Substitute the first alias's expression
    * into both clause bodies. */
  def aliasSubGroupHaving(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    topSelects(toks).foreach { s =>
      // fromless selects (SELECT 1 as a ... GROUP BY a) end their select
      // list at WHERE/GROUP instead
      val listEnd =
        if (s.fromAt > s.selectAt) s.fromAt
        else if (s.whereAt >= 0) s.whereAt
        else s.groupAt
      if (s.groupAt >= 0 && listEnd > s.selectAt) {
        val aliases = selectAliases(sql, toks, s.selectAt, listEnd)
        if (aliases.nonEmpty) {
          // GROUP BY item span: after the BY keyword until HAVING or a
          // clause stop
          var gEnd = s.groupAt + 1
          var j = s.groupAt + 2 // skip "group by"
          var d = 0
          var stop = false
          while (j < toks.length && !stop) {
            val u = toks(j)
            u.text match {
              case "(" => d += 1
              case ")" if d == 0 => stop = true
              case ")" => d -= 1
              case ";" if d == 0 => stop = true
              case w if d == 0 && u.kind == Word &&
                  (havingCondStops(w.toLowerCase) ||
                   w.equalsIgnoreCase("having")) => stop = true
              case _ =>
            }
            if (!stop) { gEnd = j; j += 1 }
          }
          if (gEnd > s.groupAt + 1) {
            val body = renderWithAliases(toks, s.groupAt + 2, gEnd, aliases)
            patches += ((toks(s.groupAt).start, toks(gEnd).end,
              s"GROUP BY $body"))
          }
          if (s.havingAt >= 0) {
            val condEnd = condSpanEnd(toks, s.havingAt)
            if (condEnd > s.havingAt) {
              val cond =
                renderWithAliases(toks, s.havingAt + 1, condEnd, aliases)
              patches += ((toks(s.havingAt).start, toks(condEnd).end,
                s"HAVING ($cond)"))
            }
          }
        }
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** GROUPED having with select-list alias references (retry-only):
    * MySQL resolves `having AVG(z) > 0` where z aliases a select item
    * (reference planbuilder HAVING scope); Spark leaves `z` unresolved
    * inside the Aggregate. Substitute aliases by their expressions,
    * keeping the HAVING in place. */
  def havingAliasSub(sql: String): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    topSelects(toks).foreach { s =>
      if (s.havingAt >= 0 && s.groupAt >= 0 && s.fromAt > s.selectAt) {
        val aliases = selectAliases(sql, toks, s.selectAt, s.fromAt)
        val condEnd = condSpanEnd(toks, s.havingAt)
        if (aliases.nonEmpty && condEnd > s.havingAt) {
          val cond = renderWithAliases(toks, s.havingAt + 1, condEnd, aliases)
          patches += ((toks(s.havingAt).start, toks(condEnd).end,
            s"HAVING ($cond)"))
        }
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- MATCH(col, …) AGAINST ('query' [mode]) ---------------------------
  // (reference sql/expression/matchagainst.go). The query string is a
  // plan-time literal, so the full-text grammar compiles HERE into a
  // plain SQL relevance expression over the concatenated columns
  // (FullText.relevanceSql — the boolean-mode TF scorer). Natural-mode /
  // query-expansion queries strip operators first: the MATCHING set
  // (relevance > 0) agrees with MySQL's natural mode, absolute relevance
  // differs from InnoDB's IDF ranking (documented divergence).
  // WHERE-context truthiness comes from MySqlBool on the parsed plan.
  /** MySQL JSON column-path operators (json_scripts.go:724 "JSON -> and
    * ->> operator support"): `a->'$.p'` is JSON_EXTRACT(a, '$.p') and
    * `a->>'$.p'` is JSON_UNQUOTE(JSON_EXTRACT(a, '$.p')). Quote-aware
    * single pass; the left operand is a (possibly backticked/qualified)
    * identifier chain, the right a quoted path literal. */
  def jsonArrows(sql: String): String = {
    if (!sql.contains("->")) return sql
    val n = sql.length
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var floor = 0 // end of the last patch: an operand never reaches back past it
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    scanTop(sql) { (i, c, _) =>
      if (c == '-' && i >= floor && i + 1 < n && sql.charAt(i + 1) == '>') {
        val unquoting = i + 2 < n && sql.charAt(i + 2) == '>'
        // left operand: a (backticked/qualified) identifier chain
        var e = i
        while (e > floor && sql.charAt(e - 1).isWhitespace) e -= 1
        var s = e
        def walkIdent(): Boolean =
          if (s > floor && sql.charAt(s - 1) == '`') {
            val j = sql.lastIndexOf('`', s - 2)
            j >= floor && { s = j; true }
          } else {
            val start = s
            while (s > floor && isIdent(sql.charAt(s - 1))) s -= 1
            s < start
          }
        var ok = walkIdent()
        while (ok && s > floor && sql.charAt(s - 1) == '.') {
          s -= 1
          ok = walkIdent()
        }
        // right operand: a quoted path literal
        var j = i + (if (unquoting) 3 else 2)
        while (j < n && sql.charAt(j).isWhitespace) j += 1
        if (ok && j < n && (sql.charAt(j) == '\'' || sql.charAt(j) == '"')) {
          val k = literalEnd(sql, j) - 1
          if (k > j && sql.charAt(k) == sql.charAt(j)) {
            val body = sql.substring(j + 1, k)
            val path =
              if (sql.charAt(j) == '"') body.replace("'", "''") else body
            val extracted = s"json_extract(${sql.substring(s, e)}, '$path')"
            patches += ((s, k + 1,
              if (unquoting) s"json_unquote($extracted)" else extracted))
            floor = k + 1
          }
        }
      }
      -1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  def matchAgainst(sql: String): String = {
    if (!sql.toUpperCase.contains("AGAINST")) return sql
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i + 3 < toks.length) {
      if (toks(i).isWord("MATCH") && toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        if (close > 0 && close + 2 < toks.length &&
            toks(close + 1).isWord("AGAINST") &&
            toks(close + 2).text == "(") {
          val aClose = closeParenFor(toks, close + 2)
          val qTok = toks(close + 3)
          if (aClose > close + 3 && qTok.kind == Lit &&
              qTok.text.startsWith("'")) {
            val modeText = toks.slice(close + 4, aClose)
              .map(_.text.toUpperCase).mkString(" ")
            val boolean = modeText.contains("BOOLEAN")
            val raw = qTok.text.substring(1, qTok.text.length - 1)
              .replace("''", "'").replace("\\'", "'")
            val query =
              if (boolean) raw
              else raw.replaceAll("""[+\-~<>"*()]""", " ").trim
            val colsText = sql.substring(toks(i + 1).end, toks(close).start)
            patches += ((toks(i).start, toks(aClose).end,
              graft.functions.FullText.relevanceSql(
                s"concat_ws(' ', $colsText)", query)))
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- ENUM / SET ordinal semantics --------------------------------------
  // The reference compares ENUM values by their 1-based member index and
  // SET values by their bitmask (sql/types/enum.go Compare, set.go
  // Compare); this engine stores both as validated strings, so a naked
  // ORDER BY / range comparison would sort lexically. The rewrite maps
  // bare column identifiers in those positions onto their ordinal form.

  /** Rewrite ORDER BY items and `<ident> op literal` range comparisons
    * over declared ENUM/SET columns to ordinal form. `lookup(colName)`
    * resolves a lower-cased bare column name to `(isSet, members)` —
    * None leaves the text untouched (undeclared or ambiguous). Only bare
    * (optionally qualified / backticked) identifiers rewrite; any other
    * expression passes through verbatim. */
  def enumOrdinal(sql: String,
                  lookup: String => Option[(Boolean, Seq[String])]): String = {
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    def q(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    def ordinalExpr(ident: String, isSet: Boolean,
                    members: Seq[String]): String =
      if (!isSet)
        s"array_position(array(${members.map(q).mkString(",")}), $ident)"
      else {
        val sum = members.zipWithIndex.map { case (m, i) =>
          s"IF(array_contains(split($ident, ','), ${q(m)}), ${1L << i}L, 0L)"
        }.mkString(" + ")
        s"(CASE WHEN $ident IS NULL THEN CAST(NULL AS BIGINT) ELSE $sum END)"
      }
    // a bare identifier at [s, e): Word (qualifier dots are word chars)
    // or `tick` literal(s) around a dot
    def identAt(s: Int, e: Int): Option[String] = {
      def one(j: Int): Option[String] = {
        val t = toks(j)
        if (t.kind == Word &&
            t.text.headOption.exists(c => c.isLetter || c == '_'))
          Some(t.text)
        else if (t.kind == Lit && t.text.startsWith("`")) Some(t.text)
        else None
      }
      if (e - s == 1) one(s)
      else if (e - s == 3 && toks(s + 1).text == ".")
        for { a <- one(s); b <- one(s + 2) } yield s"$a.$b"
      else None
    }
    def colKey(ident: String): String =
      ident.split('.').last.stripPrefix("`").stripSuffix("`").toLowerCase
    def keyword(t: Tok, ws: String*) = ws.exists(t.isWord)

    // ---- CAST(enum_col AS <numeric>) → member ordinal; SET → bitmask
    //      (reference enum.go/set.go Convert: 'abc' in enum(a,b,c)
    //      casts to 1, script_queries.go "enum conversions")
    locally {
      val numericTargets = Set("bigint", "int", "integer", "decimal",
        "float", "double", "real", "signed", "unsigned", "numeric")
      var k = 0
      while (k + 4 < toks.length) {
        if (toks(k).isWord("CAST") && toks(k + 1).text == "(") {
          val identEnd =
            if (k + 3 < toks.length && toks(k + 3).isWord("AS")) Some(k + 3)
            else if (k + 5 < toks.length && toks(k + 3).text == "." &&
              toks(k + 5).isWord("AS")) Some(k + 5)
            else None
          identEnd.foreach { ae =>
            for {
              ident <- identAt(k + 2, ae)
              (isSet, members) <- lookup(colKey(ident))
              if numericTargets(toks(ae + 1).text.toLowerCase)
            } patches += ((toks(k + 2).start, toks(ae - 1).end,
              ordinalExpr(ident, isSet, members)))
          }
        }
        k += 1
      }
    }

    // ---- ORDER BY item positions
    var i = 0
    while (i + 1 < toks.length) {
      if (toks(i).isWord("ORDER") && toks(i + 1).isWord("BY")) {
        var j = i + 2
        var depth = 0
        var itemStart = j
        var done = false
        def handleItem(s: Int, e0: Int): Unit = {
          var e = e0
          if (e - 1 >= s && keyword(toks(e - 1), "ASC", "DESC")) e -= 1
          for {
            ident <- identAt(s, e)
            (isSet, members) <- lookup(colKey(ident))
          } patches += ((toks(s).start, toks(e - 1).end,
            ordinalExpr(ident, isSet, members)))
        }
        while (!done && j < toks.length) {
          val t = toks(j)
          if (t.text == "(") { depth += 1; j += 1 }
          else if (t.text == ")") {
            if (depth == 0) { handleItem(itemStart, j); done = true }
            else { depth -= 1; j += 1 }
          } else if (depth == 0 && t.text == ",") {
            handleItem(itemStart, j); itemStart = j + 1; j += 1
          } else if (depth == 0 && keyword(t, "LIMIT", "OFFSET", "INTO",
              "FOR", "UNION", "EXCEPT", "INTERSECT", "SEPARATOR")) {
            handleItem(itemStart, j); done = true
          } else j += 1
        }
        if (!done && itemStart < toks.length)
          handleItem(itemStart, toks.length)
      }
      i += 1
    }

    // ---- `<ident> op 'literal'` range comparisons (and the mirror):
    // the literal side folds to its ordinal constant at rewrite time
    def litOrdinal(lit: Tok, isSet: Boolean, members: Seq[String]): Option[String] =
      if (!lit.text.startsWith("'")) None
      else {
        val v = lit.text.substring(1, lit.text.length - 1)
          .replace("''", "'").replace("\\'", "'")
        if (!isSet) Some((members.indexOf(v) + 1).toString)
        else Some(v.split(',').filter(_.nonEmpty).map { m =>
          val ix = members.indexOf(m)
          if (ix < 0) 0L else 1L << ix
        }.sum.toString)
      }
    val rangeOps = Set("<", ">", "<=", ">=")
    // `<enum-ident> op <number>` compares the member's INDEX (enum.go
    // Compare int case — type_wire_queries.go `WHERE pk = 2` /
    // `pk > 2` over ENUM pks). Equality included, but ONLY in predicate
    // context (the preceding token gates out UPDATE/INSERT `SET c = 1`
    // assignments, which must keep assignment semantics).
    val eqOps = Set("=", "!=", "<>")
    def numLit(t: Tok): Boolean =
      t.kind == Word && t.text.matches("\\d+")
    // a SELECT statement has no assignment contexts, so select-list
    // positions (after `,` / SELECT) are comparison contexts too
    // (script_queries.go "enum conversion with system variables":
    // `select e, @@autocommit, e = @@autocommit …` compares the index)
    val selectStmt = toks.headOption.exists(t =>
      t.isWord("select") || t.isWord("with") || t.text == "(")
    def predicateCtx(identIdx: Int): Boolean =
      identIdx == 0 || {
        val p = toks(identIdx - 1)
        (p.kind == Sym && (p.text == "(" )) ||
          Seq("where", "and", "or", "on", "not", "having", "when",
            "then", "else").exists(p.isWord) ||
          (selectStmt && (p.text == "," || p.isWord("select")))
      }
    i = 1
    while (i + 1 < toks.length) {
      val t = toks(i)
      if (t.kind == Sym && (rangeOps(t.text) || eqOps(t.text)) &&
          !patches.exists(p => p._1 <= t.start && t.end <= p._2)) {
        val isRange = rangeOps(t.text)
        // left ident, right literal
        (identAt(i - 1, i), toks(i + 1)) match {
          case (Some(ident), lit) if lit.kind == Lit && isRange =>
            lookup(colKey(ident)).foreach { case (isSet, members) =>
              litOrdinal(lit, isSet, members).foreach { ord =>
                patches += ((toks(i - 1).start, toks(i - 1).end,
                  ordinalExpr(ident, isSet, members)))
                patches += ((lit.start, lit.end, ord))
              }
            }
          case (Some(ident), lit) if numLit(lit) &&
              (isRange || predicateCtx(i - 1)) =>
            lookup(colKey(ident)).foreach { case (isSet, members) =>
              patches += ((toks(i - 1).start, toks(i - 1).end,
                ordinalExpr(ident, isSet, members)))
            }
          case _ =>
            // left literal, right ident
            (toks(i - 1), identAt(i + 1, i + 2)) match {
              case (lit, Some(ident)) if lit.kind == Lit && isRange =>
                lookup(colKey(ident)).foreach { case (isSet, members) =>
                  litOrdinal(lit, isSet, members).foreach { ord =>
                    patches += ((lit.start, lit.end, ord))
                    patches += ((toks(i + 1).start, toks(i + 1).end,
                      ordinalExpr(ident, isSet, members)))
                  }
                }
              case (lit, Some(ident)) if numLit(lit) =>
                lookup(colKey(ident)).foreach { case (isSet, members) =>
                  patches += ((toks(i + 1).start, toks(i + 1).end,
                    ordinalExpr(ident, isSet, members)))
                }
              case _ =>
            }
        }
      }
      i += 1
    }
    // ---- `<vocab-ident> +|-|*|/ <number>` (and the mirror): arithmetic
    //      uses the ordinal / bitmask numeric value (set.go `s + 0`
    //      over SET('a','b','c') = 7; enum.go `e + 0` = index)
    val arithOps = Set("+", "-", "*", "/")
    def numericTok(x: Tok) =
      x.kind == Word && x.text.matches("\\d+(\\.\\d+)?")
    i = 1
    while (i + 1 < toks.length) {
      val t = toks(i)
      if (t.kind == Sym && arithOps(t.text) &&
          !patches.exists(p => p._1 <= t.start && t.end <= p._2)) {
        (identAt(i - 1, i), toks(i + 1)) match {
          case (Some(ident), n) if numericTok(n) =>
            lookup(colKey(ident)).foreach { case (isSet, members) =>
              patches += ((toks(i - 1).start, toks(i - 1).end,
                ordinalExpr(ident, isSet, members)))
            }
          case _ if numericTok(toks(i - 1)) =>
            identAt(i + 1, i + 2).foreach { ident =>
              lookup(colKey(ident)).foreach { case (isSet, members) =>
                patches += ((toks(i + 1).start, toks(i + 1).end,
                  ordinalExpr(ident, isSet, members)))
              }
            }
          case _ =>
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- MySQL lenient CAST of string LITERALS (reference
  //      sql/types/datetime.go / number.go Convert; corpus
  //      queries.go:4207+ "cast('2020-01-01 a' as datetime)" block):
  //      MySQL parses the longest valid prefix, returns it, and warns
  //      1292 Truncated incorrect value. Spark's cast returns NULL for
  //      the whole thing. For literal operands the prefix parse happens
  //      here at rewrite time and the diagnostics area gets the 1292;
  //      column-valued casts keep Spark's distributed semantics (a
  //      per-row warning count would serialize the scan).

  private val NumFull = """^\s*[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?\s*$""".r
  private val NumPrefix = """^\s*([+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?)""".r
  // MySQL's string→INTEGER parse (my_strtoll10; reference expectation
  // queries.go:8968-9006) skips leading SPACE and TAB only — a leading
  // newline/CR/NUL stops the parse immediately, so cast('\n123\n' as
  // signed) is 0 while cast(' \t 123 \t ' as signed) is 123. The
  // double/decimal parse (my_strtod) skips all isspace, so NumFull
  // above keeps \s and only the integer targets use these.
  private val IntNumFull = """^[ \t]*[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?[ \t]*$""".r
  private val IntNumPrefix = """^[ \t]*([+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?)""".r
  private val DtFull =
    """^\s*\d{4}-\d{1,2}-\d{1,2}([ T]\d{1,2}(:\d{1,2}(:\d{1,2}(\.\d+)?)?)?)?\s*$""".r
  private val DtPrefix =
    ("""^\s*(\d{4})-(\d{1,2})-(\d{1,2})""" +
     """(?:[ T](\d{1,2})(?::(\d{1,2})(?::(\d{1,2})(\.\d+)?)?)?)?""").r

  /** Rewrite CAST('<literal>' AS <numeric|datetime|date>) the MySQL way:
    * clean parses pass through; truncatable ones are replaced by their
    * parsed prefix with a 1292 warning; unparseable ones become NULL
    * with a 1292 warning. `warn(code, msg)` feeds the session
    * diagnostics area. */
  def lenientCastLiterals(sql: String, warn: (Int, String) => Unit): String = {
    if (!sql.toLowerCase.contains("cast")) return sql
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i + 4 < toks.length) {
      if (toks(i).isWord("cast") && toks(i + 1).text == "(" &&
          toks(i + 2).kind == Lit && toks(i + 2).text.startsWith("'") &&
          toks(i + 3).isWord("as")) {
        val close = closeParenFor(toks, i + 1)
        if (close > i + 4) {
          val lit = toks(i + 2).text.stripPrefix("'").stripSuffix("'")
            .replace("''", "'")
          val target = sql.substring(toks(i + 4).start, toks(close).start)
            .trim.toUpperCase
          val tHead = target.takeWhile(c => c.isLetter || c == '_')
          def patchLit(v: Option[String]): Unit =
            patches += ((toks(i + 2).start, toks(i + 2).end,
              v.map(s => "'" + s.replace("'", "''") + "'").getOrElse("NULL")))
          tHead match {
            case "DATETIME" | "TIMESTAMP" | "DATE" if DtFull.findFirstIn(lit).isEmpty =>
              DtPrefix.findFirstMatchIn(lit) match {
                case Some(m) =>
                  val frac0 = Option(m.group(7)).getOrElse("")
                  // DATETIME(p): fractional digits truncate to p
                  val p = """\((\d+)\)""".r.findFirstMatchIn(target)
                    // bare CAST AS DATETIME is datetime(0) — the
                    // fraction truncates away (queries.go:4240
                    // '12:34:56.1 abc' -> 12:34:56)
                    .map(_.group(1).toInt).getOrElse(0)
                  val frac =
                    if (frac0.isEmpty || p == 0) ""
                    else {
                      // MySQL ROUNDS the fraction to p digits
                      // (queries.go cast('...12:34:56.123456abc' as
                      // datetime(4)) -> .1235), carrying into the
                      // seconds when it overflows is ignored here (the
                      // reference rounds within the fraction)
                      val digits = frac0.drop(1)
                      if (digits.length <= p) "." + digits
                      else {
                        val scaled = BigDecimal("0." + digits)
                          .setScale(p, BigDecimal.RoundingMode.HALF_UP)
                        val s = scaled.bigDecimal.toPlainString
                        if (s.startsWith("1")) "." + "9" * p // .99999+ clamp
                        else s.substring(1) // drop leading 0
                      }
                    }
                  val date = f"${m.group(1)}-${m.group(2).toInt}%02d-${m.group(3).toInt}%02d"
                  val cleaned =
                    if (tHead == "DATE") date
                    else {
                      val hh = Option(m.group(4)).map(_.toInt).getOrElse(0)
                      val mi = Option(m.group(5)).map(_.toInt).getOrElse(0)
                      val ss = Option(m.group(6)).map(_.toInt).getOrElse(0)
                      f"$date $hh%02d:$mi%02d:$ss%02d$frac"
                    }
                  patchLit(Some(cleaned))
                  warn(1292,
                    s"Truncated incorrect ${tHead.toLowerCase} value: '$lit'")
                case None =>
                  patchLit(None)
                  warn(1292,
                    s"Incorrect ${tHead.toLowerCase} value: '$lit'")
              }
            case "SIGNED" | "UNSIGNED" | "BIGINT" | "INT" | "INTEGER"
                if IntNumFull.findFirstIn(lit).isEmpty =>
              IntNumPrefix.findFirstMatchIn(lit) match {
                case Some(m) =>
                  patchLit(Some(m.group(1).trim))
                  warn(1292, s"Truncated incorrect integer value: '$lit'")
                case None =>
                  patchLit(Some("0"))
                  warn(1292, s"Truncated incorrect integer value: '$lit'")
              }
            case "DOUBLE" | "FLOAT" | "REAL" | "DECIMAL"
                if NumFull.findFirstIn(lit).isEmpty =>
              val tn = if (tHead == "DECIMAL") "decimal" else "double"
              NumPrefix.findFirstMatchIn(lit) match {
                case Some(m) =>
                  patchLit(Some(m.group(1).trim))
                  warn(1292, s"Truncated incorrect $tn value: '$lit'")
                case None =>
                  patchLit(Some("0"))
                  warn(1292, s"Truncated incorrect $tn value: '$lit'")
              }
            case _ =>
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- TRUNCATE(x, d) string-literal warnings (reference
  //      function_queries.go:165-235): a non-numeric string INPUT warns
  //      once ("double"); a string PRECISION warns twice ("int") — the
  //      reference converts it in two phases and warns in each. Values
  //      are already MySQL-coerced by MySqlTruncate; only the
  //      diagnostics feed happens here, for literal args.

  def truncateLiteralWarnings(sql: String, warn: (Int, String) => Unit): Unit = {
    if (!sql.toLowerCase.contains("truncate")) return
    val toks = tokenize(sql)
    var i = 0
    while (i < toks.length - 2) {
      if (toks(i).isWord("truncate") && toks(i + 1).kind == Sym &&
          toks(i + 1).text == "(") {
        def lit(t: Tok): Option[String] =
          if (t.kind == Lit && t.text.startsWith("'"))
            Some(t.text.stripPrefix("'").stripSuffix("'").replace("''", "'"))
          else None
        // literal input arg: truncate('<lit>', ...)
        if (i + 3 < toks.length && toks(i + 3).text == ",")
          lit(toks(i + 2)).foreach { c =>
            if (NumFull.findFirstIn(c).isEmpty)
              warn(1292, s"Truncated incorrect double value: '$c'")
          }
        // literal precision arg: truncate(..., '<lit>')
        val close = closeParenFor(toks, i + 1)
        if (close > i + 3 && toks(close - 2).text == ",")
          lit(toks(close - 1)).foreach { c =>
            warn(1292, s"Truncated incorrect int value: '$c'")
            warn(1292, s"Truncated incorrect int value: '$c'")
          }
      }
      i += 1
    }
  }

  // ---- FROM-less scalar subquery with HAVING (reference
  //      order_by_group_by_queries.go:70-84, dolt issue 4723): MySQL
  //      evaluates `(SELECT <expr> [AS a] [GROUP BY …] HAVING <cond>)`
  //      once per outer row — outer aliases and columns are in scope,
  //      the inner alias shadows them in the HAVING, and a false HAVING
  //      yields NULL. Spark rejects the outer reference in the subquery
  //      SELECT list, so the whole form compiles to
  //      `CASE WHEN <cond'> THEN <expr> END` (cond' = cond with the
  //      inner alias substituted), which Spark's lateral column alias
  //      resolution then binds exactly like MySQL's scoping.

  def fromlessHavingSubquery(sql: String): String = {
    val up = sql.toUpperCase
    if (!up.contains("HAVING") || !up.contains("SELECT")) return sql
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i).kind == Sym && toks(i).text == "(" &&
          toks(i + 1).isWord("select")) {
        val close = closeParenFor(toks, i)
        if (close > i + 2) {
          var depth = 0
          var fromIdx = -1; var havingIdx = -1; var groupIdx = -1
          var commaIdx = -1
          var j = i + 2
          while (j < close) {
            val t = toks(j)
            if (t.kind == Sym && t.text == "(") depth += 1
            else if (t.kind == Sym && t.text == ")") depth -= 1
            else if (depth == 0 && t.isWord("from") && fromIdx < 0) fromIdx = j
            else if (depth == 0 && t.isWord("having") && havingIdx < 0)
              havingIdx = j
            else if (depth == 0 && t.isWord("group") && groupIdx < 0)
              groupIdx = j
            else if (depth == 0 && t.kind == Sym && t.text == "," &&
                havingIdx < 0 && commaIdx < 0) commaIdx = j
            j += 1
          }
          // only the scalar-position single-item form qualifies: after
          // EXISTS/IN/ANY/ALL/SOME the subquery is relational (a CASE
          // there is wrong), and a multi-item select list would splice
          // into a malformed CASE — leave both for normal planning
          val relationalCtx = i > 0 && Seq("exists", "in", "any", "all",
            "some").exists(toks(i - 1).isWord)
          if (fromIdx < 0 && havingIdx >= 0 && havingIdx < close - 1 &&
              !relationalCtx && commaIdx < 0) {
            val exprEnd =
              if (groupIdx >= 0 && groupIdx < havingIdx) groupIdx
              else havingIdx
            var lastExpr = exprEnd - 1
            var alias: Option[String] = None
            if (exprEnd - (i + 2) >= 3 && toks(exprEnd - 2).isWord("as") &&
                toks(exprEnd - 1).kind == Word) {
              alias = Some(toks(exprEnd - 1).text)
              lastExpr = exprEnd - 3
            }
            if (lastExpr >= i + 2) {
              val exprText =
                sql.substring(toks(i + 2).start, toks(lastExpr).end)
              val havingText0 =
                sql.substring(toks(havingIdx + 1).start, toks(close - 1).end)
              val havingText = alias match {
                case Some(a) => substIdent(havingText0, a, s"($exprText)")
                case None => havingText0
              }
              patches += ((toks(i).start, toks(close).end,
                s"(CASE WHEN $havingText THEN ($exprText) END)"))
              i = close
            }
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- @@sysvar select-list column names (reference
  //      variable_queries.go "variable scope is included in returned
  //      column name when explicitly provided"): `SELECT
  //      @@GLoBAL.max_allowed_packet` returns a column named exactly
  //      `@@GLoBAL.max_allowed_packet` (original case, scope kept).
  //      The engine substitutes @@vars to literals, which would leave
  //      the literal as the column name — so a BARE select-list @@var
  //      first gains an explicit alias carrying its spelling.

  def sysVarAliases(sql: String): String = {
    if (!sql.contains("@@")) return sql
    val toks = tokenize(sql)
    if (toks.isEmpty || !toks.head.isWord("select")) return sql
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    val listEnd = Set("from", "where", "group", "order", "having",
      "limit", "union", "intersect", "except")
    var depth = 0
    var inList = true
    var i = 1
    while (i < toks.length && inList) {
      val t = toks(i)
      if (t.kind == Sym && t.text == "(") depth += 1
      else if (t.kind == Sym && t.text == ")") depth -= 1
      else if (depth == 0 && t.kind == Word &&
          listEnd(t.text.toLowerCase)) inList = false
      else if (depth == 0 && t.kind == Word && t.text.startsWith("@@")) {
        val prevOk = toks(i - 1).isWord("select") ||
          (toks(i - 1).kind == Sym && toks(i - 1).text == ",")
        val nextOk = i + 1 >= toks.length ||
          (toks(i + 1).kind == Sym && toks(i + 1).text == ",") ||
          (toks(i + 1).kind == Word && listEnd(toks(i + 1).text.toLowerCase))
        if (prevOk && nextOk)
          patches += ((t.start, t.end, s"${t.text} AS `${t.text}`"))
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- boolean literals in IF() branches (reference
  //      order_by_group_by_queries.go:312): MySQL's TRUE/FALSE are the
  //      integers 1/0, so `IF(cond, TRUE, intcol)` is an int expression;
  //      Spark's If insists on same-typed branches and rejects the
  //      boolean/int mix. Rewrite standalone TRUE/FALSE in the 2nd/3rd
  //      IF args to 1/0 — value-identical in MySQL, type-compatible in
  //      Spark.

  def ifBooleanBranches(sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("if") ||
        (!lower.contains("true") && !lower.contains("false"))) return sql
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i).isWord("if") && toks(i + 1).kind == Sym &&
          toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        if (close > 0) {
          var depth = 0; var arg = 0
          var j = i + 2
          while (j < close) {
            val t = toks(j)
            if (t.kind == Sym && t.text == "(") depth += 1
            else if (t.kind == Sym && t.text == ")") depth -= 1
            else if (depth == 0 && t.kind == Sym && t.text == ",") arg += 1
            else if (depth == 0 && arg >= 1 && t.kind == Word) {
              if (t.text.equalsIgnoreCase("true"))
                patches += ((t.start, t.end, "1"))
              else if (t.text.equalsIgnoreCase("false"))
                patches += ((t.start, t.end, "0"))
            }
            j += 1
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Token-level identifier substitution: bare or backticked `name`
    * becomes `replacement` text; literals and longer words untouched. */
  private def substIdent(ex: String, name: String,
                         replacement: String): String = {
    val toks = tokenize(ex)
    val sb = new StringBuilder
    var pos = 0
    toks.foreach { t =>
      sb.append(ex.substring(pos, t.start))
      val ticked = t.kind == Lit && t.text.length > 2 &&
        t.text.startsWith("`") && t.text.endsWith("`") &&
        t.text.substring(1, t.text.length - 1).equalsIgnoreCase(name)
      sb.append(
        if (t.isWord(name) || ticked) replacement else t.text)
      pos = t.end
    }
    sb.append(ex.substring(pos))
    sb.toString
  }

  // ---- STR_TO_DATE literal parse-failure warnings (reference
  //      sql/expression/function/str_to_date.go:128: a failed parse
  //      evaluates to NULL and warns 1411). Literal-args only — the
  //      driver-visible mirror of the reference's per-eval ctx.Warn;
  //      the NULL value itself falls out of MySqlFormat's translated
  //      ParseToDate/ParseToTimestamp (non-ANSI parse -> NULL).

  def strToDateLiteralWarnings(sql: String, warn: (Int, String) => Unit): Unit = {
    if (!sql.toLowerCase.contains("str_to_date")) return
    val toks = tokenize(sql)
    var i = 0
    while (i + 5 < toks.length) {
      if (toks(i).isWord("str_to_date") && toks(i + 1).text == "(" &&
          toks(i + 2).kind == Lit && toks(i + 2).text.startsWith("'") &&
          toks(i + 3).text == "," &&
          toks(i + 4).kind == Lit && toks(i + 4).text.startsWith("'") &&
          toks(i + 5).text == ")") {
        def unq(t: Tok) =
          t.text.stripPrefix("'").stripSuffix("'").replace("''", "'")
        val str = unq(toks(i + 2))
        if (strToDateParseFails(str, unq(toks(i + 4))))
          warn(1411, s"Incorrect value: '$str' for function str_to_date")
        i += 5
      }
      i += 1
    }
  }

  /** Driver-side parse probe sharing MySqlFormat's specifier
    * translation. Only a definite text mismatch is a failure; an
    * untranslatable pattern stays silent (no false 1411s). */
  private def strToDateParseFails(str: String, mysqlFmt: String): Boolean =
    try {
      val pattern = functions.MySqlFormat.toJavaPattern(mysqlFmt, parse = true)
      java.time.format.DateTimeFormatter
        .ofPattern(pattern, java.util.Locale.US).parse(str)
      false
    } catch {
      case _: java.time.format.DateTimeParseException => true
      case _: Exception => false
    }

  // ---- zero-date literal args to date arithmetic (reference
  //      function_queries.go:1788+): MySQL's zero date '0000-00-00' (or
  //      numeric 0, or a boolean for DAYNAME) has no Spark
  //      representation; the reference evaluates the call to NULL with a
  //      1292 warning. Literal-only, call replaced by NULL.

  private val zeroDateFns = Set("date_add", "date_sub", "adddate",
    "subdate", "timestampadd", "datediff", "dayname")
  // DAY()/DAYOFMONTH() over the zero date return 0, not NULL — the day
  // NUMBER of the zero date is 0; only a non-date (true) nulls + warns
  private val zeroDayFns = Set("day", "dayofmonth")

  def zeroDateCallNull(sql: String, warn: (Int, String) => Unit): String = {
    val lower = sql.toLowerCase
    if (!zeroDateFns.exists(f => lower.contains(f)) &&
        !zeroDayFns.exists(f => lower.contains(f)) &&
        !lower.contains("interval")) return sql
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      // bare `0 + INTERVAL n unit` / `0 - INTERVAL n unit` arithmetic:
      // the zero date has no Spark value -> NULL + 1292
      // (function_queries.go:1868)
      if (toks(i).kind == Word && toks(i).text == "0" &&
          i + 4 < toks.length && toks(i + 1).kind == Sym &&
          (toks(i + 1).text == "+" || toks(i + 1).text == "-") &&
          toks(i + 2).isWord("interval") &&
          (i == 0 || toks(i - 1).kind == Sym ||
            Set("select", "where", "when", "then", "else", "and", "or",
              "not", "on", "having", "by")
              .contains(toks(i - 1).text.toLowerCase))) {
        patches += ((toks(i).start, toks(i + 4).end, "NULL"))
        warn(1292, "Truncated incorrect datetime value: '0'")
        i += 4
      }
      else if (toks(i).kind == Word &&
          zeroDayFns.contains(toks(i).text.toLowerCase) &&
          i + 3 < toks.length &&
          toks(i + 1).kind == Sym && toks(i + 1).text == "(" &&
          toks(i + 3).kind == Sym && toks(i + 3).text == ")") {
        val arg = toks(i + 2)
        val argText = arg.text.toLowerCase
        val isZeroDate = arg.kind == Lit &&
          arg.text.stripPrefix("'").startsWith("0000-00-00")
        if (argText == "0" || argText == "false" || isZeroDate)
          patches += ((toks(i).start, toks(i + 3).end, "0"))
        else if (argText == "true") {
          patches += ((toks(i).start, toks(i + 3).end, "NULL"))
          warn(1292, "Truncated incorrect datetime value: 'true'")
        }
        if (argText == "0" || argText == "false" || argText == "true" ||
            isZeroDate) i += 3
      }
      else if (toks(i).kind == Word &&
          zeroDateFns.contains(toks(i).text.toLowerCase) &&
          toks(i + 1).kind == Sym && toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        if (close > 0) {
          // top-level arg tokens of this call
          var depth = 0
          var j = i + 1
          var zero: Option[String] = None
          while (j < close && zero.isEmpty) {
            val t = toks(j)
            if (t.kind == Sym && t.text == "(") depth += 1
            else if (t.kind == Sym && t.text == ")") depth -= 1
            else if (depth == 1) {
              if (t.kind == Lit && t.text.startsWith("'") &&
                  t.text.stripPrefix("'").startsWith("0000-00-00"))
                zero = Some(t.text.stripPrefix("'").stripSuffix("'"))
              else if (t.kind == Word && t.text == "0" &&
                  // a bare literal zero arg, not part of an expression
                  (toks(j - 1).text == "(" || toks(j - 1).text == ",") &&
                  (toks(j + 1).text == ")" || toks(j + 1).text == ","))
                zero = Some("0")
              else if (t.kind == Word &&
                  toks(i).text.equalsIgnoreCase("dayname") &&
                  (t.text.equalsIgnoreCase("true") ||
                   t.text.equalsIgnoreCase("false")))
                zero = Some(t.text.toLowerCase)
            }
            j += 1
          }
          zero.foreach { z =>
            patches += ((toks(i).start, toks(close).end, "NULL"))
            warn(1292, s"Truncated incorrect datetime value: '$z'")
          }
          i = close
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- numeric column vs non-numeric string literal (reference
  //      TestConvert, convert_queries.go 'string' block): MySQL coerces
  //      the literal to the column's numeric type — 'string' -> 0 with a
  //      1292 warning — so `i8 >= 'string'` is TRUE. Spark casts both
  //      sides to DOUBLE and the NULL literal makes the predicate
  //      UNKNOWN. The literal is replaced by its numeric prefix when the
  //      other side resolves to a numeric column of a mentioned table.

  def numericLiteralCompare(sql: String, isNumericCol: String => Boolean,
      warn: (Int, String) => Unit): String = {
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    def tryPatch(identIdx: Int, litIdx: Int): Unit = {
      val ident = toks(identIdx); val lit = toks(litIdx)
      if (ident.kind == Word && lit.kind == Lit &&
          lit.text.startsWith("'")) {
        val content = lit.text.stripPrefix("'").stripSuffix("'")
          .replace("''", "'")
        if (NumFull.findFirstIn(content).isEmpty &&
            isNumericCol(ident.text.split('.').last.toLowerCase)) {
          val replacement = NumPrefix.findFirstMatchIn(content)
            .map(_.group(1).trim).getOrElse("0")
          patches += ((lit.start, lit.end, replacement))
          warn(1292, s"Truncated incorrect DOUBLE value: '$content'")
        }
      }
    }
    var i = 1
    while (i < toks.length - 1) {
      if (toks(i).kind == Sym && cmpSyms.contains(toks(i).text)) {
        tryPatch(i - 1, i + 1)
        tryPatch(i + 1, i - 1)
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  // ---- any_value() without GROUP BY (reference queries.go:9332, dolt
  //      issue 9699): the reference keeps PER-ROW semantics — the query
  //      returns every row and any_value(x) just evaluates x. Spark's
  //      any_value is always an aggregate (one global group), so the
  //      wrapper is stripped textually when the statement has no GROUP
  //      BY anywhere. Statements WITH a GROUP BY keep the aggregate.

  def anyValueNoGroup(sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("any_value")) return sql
    val toks = tokenize(sql)
    val hasGroupBy = toks.indices.exists(i =>
      toks(i).isWord("group") && i + 1 < toks.length &&
        toks(i + 1).isWord("by"))
    if (hasGroupBy) return sql
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i).isWord("any_value") && toks(i + 1).kind == Sym &&
          toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        if (close > 0) {
          patches += ((toks(i).start, toks(i + 1).end, ""))
          patches += ((toks(close).start, toks(close).end, ""))
          i = close
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** HAVING over GROUPED TABLE COLUMNS whose names a select alias
    * shadows — `SELECT -col2 AS col0 … GROUP BY col0, col2 HAVING
    * col2 > -col0` (script_queries.go "group by having with conflicting
    * aliases"): MySQL binds HAVING's col0 to the grouped table column;
    * Spark binds the alias and errors. When every identifier in the
    * HAVING text is a GROUP BY item (and the text has no calls or
    * subqueries), the filter is equivalent PRE-grouping: move it to
    * WHERE. Retry-only. */
  def havingKeysToWhere(sql: String): String = {
    val toks = tokenize(sql)
    var depth = 0
    var havingAt = -1; var groupAt = -1; var whereAt = -1
    var i = 0
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && toks(i).isWord("having") && havingAt < 0 =>
          havingAt = i
        case _ if depth == 0 && toks(i).isWord("group") && groupAt < 0 &&
            i + 1 < toks.length && toks(i + 1).isWord("by") => groupAt = i
        case _ if depth == 0 && toks(i).isWord("where") && whereAt < 0 =>
          whereAt = i
        case _ =>
      }
      i += 1
    }
    if (havingAt < 0 || groupAt < 0 || groupAt > havingAt) return sql
    // HAVING span: to the next top-level ORDER/LIMIT/UNION or end
    var hEnd = havingAt + 1
    depth = 0
    var stop = false
    while (hEnd < toks.length && !stop) {
      toks(hEnd).text match {
        case "(" => depth += 1; hEnd += 1
        case ")" => depth -= 1; hEnd += 1
        case _ if depth == 0 && (toks(hEnd).isWord("order") ||
            toks(hEnd).isWord("limit") || toks(hEnd).isWord("union") ||
            toks(hEnd).isWord("intersect") || toks(hEnd).isWord("except")) =>
          stop = true
        case _ => hEnd += 1
      }
    }
    val hTxt = sql.substring(toks(havingAt + 1).start,
      if (hEnd < toks.length) toks(hEnd).start else sql.length).trim
    if (hTxt.contains("(")) return sql // calls/subqueries: keep HAVING
    // Whole-item matching: each HAVING identifier must BE a GROUP BY
    // item (a bare/backticked identifier), not merely a word inside one
    // — `GROUP BY a+b HAVING a > 1` must NOT move (a isn't constant
    // per group)
    val gTxt = sql.substring(toks(groupAt + 2).start, toks(havingAt).start)
    val gKeys = splitTopLevel(gTxt).map(_.trim.toLowerCase)
      .collect {
        case s if s.matches("`?[a-z_][a-z0-9_]*`?") => s.replace("`", "")
      }.toSet
    val kw = Set("not", "and", "or", "xor", "is", "null", "true", "false",
      "between", "like", "in", "div", "mod")
    val hIds = """[A-Za-z_][A-Za-z0-9_]*""".r.findAllIn(hTxt)
      .map(_.toLowerCase).filterNot(kw).toSet
    if (hIds.isEmpty || !hIds.subsetOf(gKeys)) return sql
    // splice: drop HAVING clause; add/extend WHERE before GROUP BY
    val noHaving = splice(sql, Seq((toks(havingAt).start,
      if (hEnd < toks.length) toks(hEnd).start else sql.length, "")))
    val toks2 = tokenize(noHaving)
    // re-locate GROUP at top level in the spliced text
    var d2 = 0; var g2 = -1; var w2 = -1
    toks2.indices.foreach { k =>
      toks2(k).text match {
        case "(" => d2 += 1
        case ")" => d2 -= 1
        case _ if d2 == 0 && toks2(k).isWord("group") && g2 < 0 &&
            k + 1 < toks2.length && toks2(k + 1).isWord("by") => g2 = k
        case _ if d2 == 0 && toks2(k).isWord("where") && w2 < 0 => w2 = k
        case _ =>
      }
    }
    if (g2 < 0) return sql
    if (w2 >= 0 && w2 < g2) {
      // parenthesize the ORIGINAL predicate before AND-ing: `WHERE a OR
      // b` + h must become ((a OR b) AND h), not a OR (b AND h)
      val origWhere = noHaving.substring(toks2(w2).end, toks2(g2).start).trim
      splice(noHaving, Seq((toks2(w2).start, toks2(g2).start,
        s"WHERE (($origWhere) AND ($hTxt)) ")))
    } else
      splice(noHaving, Seq((toks2(g2).start, toks2(g2).start,
        s" WHERE ($hTxt) ")))
  }

  /** `CAST(x AS BINARY(n))` — MySQL pads/truncates to n bytes; Spark
    * has no parameterized BINARY cast (UNSUPPORTED_DATATYPE). Rewrite to
    * `rpad(CAST(x AS BINARY), n, X'00')` (script_queries.go "binary
    * type primary key"). */
  def castBinaryN(sql: String): String = {
    val toks = tokenize(sql)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i + 1 < toks.length) {
      if (toks(i).isWord("cast") && toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        if (close > 0) {
          // trailing `AS BINARY ( n )` just before the close
          val isShape = close >= 5 &&
            toks(close - 1).text == ")" &&
            toks(close - 2).kind == Word &&
            toks(close - 2).text.forall(_.isDigit) &&
            toks(close - 3).text == "(" &&
            toks(close - 4).isWord("binary") &&
            toks(close - 5).isWord("as")
          if (isShape) {
            val n = toks(close - 2).text
            patches += ((toks(i).start, toks(i).start, "rpad("))
            patches += ((toks(close - 3).start, toks(close - 1).end, ""))
            patches += ((toks(close).end, toks(close).end, s", $n, X'00')"))
          } else {
            // CAST(x AS CHAR(n)) truncates to n characters in MySQL;
            // Spark's char(n) cast keeps the full string
            val isChar = close >= 5 &&
              toks(close - 1).text == ")" &&
              toks(close - 2).kind == Word &&
              toks(close - 2).text.forall(_.isDigit) &&
              toks(close - 3).text == "(" &&
              toks(close - 4).isWord("char") &&
              toks(close - 5).isWord("as")
            if (isChar) {
              val n = toks(close - 2).text
              patches += ((toks(i).start, toks(i).start, "substr("))
              patches += ((toks(close - 3).start, toks(close - 1).end, ""))
              patches += ((toks(close).end, toks(close).end, s", 1, $n)"))
            }
          }
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** A parenthesized set-op OPERAND carrying its own ORDER BY / LIMIT —
    * `(select … limit 1 offset 1) union (select … limit 1 offset 2)` —
    * keeps those clauses branch-local in MySQL; Spark folds the second
    * branch's tail into the whole union. Wrap such operands as derived
    * tables: `(select * from ( … ) __graft_bN)`. */
  def setOpBranchWrap(sql: String): String = {
    val toks = tokenize(sql)
    var d = 0
    var hasOp = false
    toks.foreach { t =>
      t.text match {
        case "(" => d += 1
        case ")" => d -= 1
        case _ if d == 0 && (t.isWord("union") || t.isWord("intersect") ||
            t.isWord("except")) => hasOp = true
        case _ =>
      }
    }
    if (!hasOp) return sql
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    d = 0
    var k = 0
    while (i < toks.length) {
      toks(i).text match {
        case "(" if d == 0 =>
          val prevOk = i == 0 || {
            val p = toks(i - 1)
            p.isWord("union") || p.isWord("intersect") ||
              p.isWord("except") || p.isWord("all") || p.isWord("distinct")
          }
          val close = closeParenFor(toks, i)
          if (prevOk && close > 0) {
            var dd = 0
            var hasTail = false
            var j = i + 1
            while (j < close) {
              toks(j).text match {
                case "(" => dd += 1
                case ")" => dd -= 1
                case _ if dd == 0 && (toks(j).isWord("limit") ||
                    toks(j).isWord("order")) => hasTail = true
                case _ =>
              }
              j += 1
            }
            if (hasTail && i + 1 < toks.length &&
                toks(i + 1).isWord("select")) {
              k += 1
              patches += ((toks(i).end, toks(i).end, " SELECT * FROM ( "))
              patches += ((toks(close).start, toks(close).start,
                s" ) __graft_b$k "))
            }
            i = close // skip the whole balanced operand
          } else d += 1
        case "(" => d += 1
        case ")" => d -= 1
        case _ =>
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Dolt iterates tables in CLUSTERED (primary key) order, so a TopN
    * over tying sort keys returns the pk-smallest rows
    * (script_queries.go "topN stable output": `order by y limit 1` over
    * all-tied y picks pk 1). Spark's TakeOrdered breaks ties
    * arbitrarily — append the single FROM table's pk as a trailing
    * tiebreaker to every ORDER BY + LIMIT select block (plain
    * single-table blocks only: no JOIN/GROUP/DISTINCT in the block). */
  def stableTopN(sql: String,
                 pkOf: String => Option[Seq[String]]): String = {
    val toks = tokenize(sql)
    if (!toks.exists(_.isWord("limit"))) return sql
    // depth per token
    val depths = new Array[Int](toks.length)
    var d = 0
    toks.indices.foreach { i =>
      toks(i).text match {
        case "(" => d += 1; depths(i) = d
        case ")" => depths(i) = d; d -= 1
        case _ => depths(i) = d
      }
    }
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("select")) {
        val bd = depths(i)
        // scan this block: same depth until closing paren / set op / end
        var j = i + 1
        var fromAt = -1; var orderAt = -1; var limitAt = -1
        var tbl: Option[String] = None
        var blocked = false
        var end = toks.length
        while (j < toks.length && end == toks.length) {
          val t = toks(j)
          if (t.text == ")" && depths(j) <= bd) end = j
          else if (depths(j) == bd) {
            if (t.isWord("union") || t.isWord("intersect") ||
                t.isWord("except") || t.isWord("select")) end = j
            else if (t.isWord("join") || t.isWord("group") ||
                     t.isWord("distinct") || t.isWord("having")) blocked = true
            else if (t.text == "," && fromAt > 0 && orderAt < 0)
              blocked = true // comma join
            else if (t.isWord("from") && fromAt < 0) {
              fromAt = j
              if (j + 1 < toks.length && toks(j + 1).kind == Word &&
                  !toks(j + 1).text.contains("."))
                tbl = Some(toks(j + 1).text)
            }
            else if (t.isWord("order") && j + 1 < toks.length &&
                     toks(j + 1).isWord("by")) orderAt = j
            else if (t.isWord("limit")) limitAt = j
          }
          j += 1
        }
        // an implicit aggregate (`SELECT count(*) … ORDER BY 1 LIMIT 1`
        // with no GROUP BY) collapses to one row — appending the pk
        // would be MISSING_AGGREGATION; and a select alias equal to the
        // pk name would capture the appended tiebreaker, binding the
        // wrong expression
        val selAliases = scala.collection.mutable.Set.empty[String]
        if (!blocked && fromAt > 0) {
          val aggFns = Set("count", "sum", "min", "max", "avg",
            "group_concat", "bit_and", "bit_or", "bit_xor", "std",
            "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop",
            "var_samp", "json_arrayagg", "json_objectagg", "any_value",
            "approx_count_distinct")
          var k = i + 1
          while (k < fromAt) {
            val t = toks(k)
            if (t.kind == Word && k + 1 < fromAt &&
                toks(k + 1).text == "(" &&
                aggFns(t.text.toLowerCase)) blocked = true
            if (t.isWord("as") && k + 1 < fromAt &&
                toks(k + 1).kind == Word)
              selAliases += toks(k + 1).text.toLowerCase.replace("`", "")
            k += 1
          }
        }
        // a comma in the select list is fine; one between FROM and ORDER
        // would be a comma-join — `blocked` above covers post-FROM only
        if (!blocked && fromAt > 0 && orderAt > 0 && limitAt > orderAt) {
          tbl.flatMap(t => pkOf(t)).filter(_.nonEmpty)
            .filterNot(_.exists(c => selAliases(c.toLowerCase)))
            .foreach { pk =>
              // the ORDER BY key list ends at LIMIT (same block)
              val keysEnd = toks(limitAt).start
              val keysTxt = sql.substring(toks(orderAt + 2).start, keysEnd)
              val missing = pk.filterNot(c =>
                ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
                  .findFirstIn(keysTxt).isDefined)
              if (missing.nonEmpty)
                patches += ((keysEnd, keysEnd,
                  missing.mkString(", `", "`, `", "` ")))
            }
        }
        // continue scanning AFTER this select keyword (nested selects
        // get their own pass)
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** A function call with a bare `*` argument — `hex(*)` — is MySQL
    * 1064/1582 for everything except COUNT(*) (reference planbuilder;
    * script_queries.go "different cases of function name"). Returns the
    * offending function name. */
  def starArgFunction(sql: String): Option[String] = {
    val toks = tokenize(sql)
    var i = 0
    while (i + 3 < toks.length) {
      if (toks(i).kind == Word && !toks(i).isWord("count") &&
          toks(i + 1).text == "(" && toks(i + 2).text == "*" &&
          toks(i + 3).text == ")")
        return Some(toks(i).text)
      i += 1
    }
    None
  }

  /** SELECT … INTO targets (reference sql/plan/into.go). */
  sealed trait IntoTarget
  final case class IntoVars(names: Seq[String]) extends IntoTarget
  final case class IntoFile(path: String, dump: Boolean) extends IntoTarget

  /** Extract a SELECT statement's top-level `INTO @vars` / `INTO
    * OUTFILE 'p'` / `INTO DUMPFILE 'p'` clause. None = no INTO clause;
    * Left(msg) = malformed placement (MySQL parse errors: multiple INTO
    * clauses; mid-block INTO inside a set operation); Right((cleaned,
    * target)) otherwise. */
  def extractSelectInto(sql: String)
      : Option[Either[String, (String, IntoTarget)]] = {
    val toks = tokenize(sql)
    if (toks.isEmpty) return None
    val fw = toks.head.text.toLowerCase
    if (fw != "select" && fw != "with" && fw != "(") return None
    var depth = 0
    var hasSetOp = false
    // (startTok, endTokExclusive, target)
    val hits = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, IntoTarget)]
    var i = 0
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && (toks(i).isWord("union") ||
            toks(i).isWord("intersect") || toks(i).isWord("except")) =>
          hasSetOp = true
        case _ if depth == 0 && toks(i).isWord("into") &&
            i + 1 < toks.length =>
          val n = toks(i + 1)
          if (n.kind == Word && n.text.startsWith("@") &&
              !n.text.startsWith("@@")) {
            // @a [, @b …]
            val names = scala.collection.mutable.ArrayBuffer(
              n.text.stripPrefix("@"))
            var j = i + 2
            while (j + 1 < toks.length && toks(j).text == "," &&
                   toks(j + 1).kind == Word &&
                   toks(j + 1).text.startsWith("@")) {
              names += toks(j + 1).text.stripPrefix("@")
              j += 2
            }
            hits += ((i, j, IntoVars(names.toSeq)))
            i = j - 1
          } else if ((n.isWord("outfile") || n.isWord("dumpfile")) &&
                     i + 2 < toks.length && toks(i + 2).kind == Lit) {
            val path = sql.substring(toks(i + 2).start + 1,
              toks(i + 2).end - 1)
            hits += ((i, i + 3, IntoFile(path, n.isWord("dumpfile"))))
            i += 2
          }
        case _ =>
      }
      i += 1
    }
    if (hits.isEmpty) None
    else if (hits.length > 1)
      Some(Left("Multiple INTO clauses in one query block (MySQL " +
        "parse error)"))
    else {
      val (s, e, target) = hits.head
      val atEnd = e >= toks.length
      if (!atEnd && hasSetOp)
        // MySQL rejects a mid-block INTO inside a set operation
        // ("INTO clause is not allowed" — only the statement tail may
        // carry it)
        Some(Left("INTO clause is not allowed here (MySQL parse error)"))
      else {
        val end = if (atEnd) sql.length else toks(e).start
        Some(Right((splice(sql, Seq((toks(s).start, end, ""))), target)))
      }
    }
  }

  /** SQL_CALC_FOUND_ROWS modifier (reference sql/planbuilder select
    * modifiers): strip it from the text; returns (wasPresent, text).
    * Spark has no equivalent — the caller captures the un-LIMITed twin
    * for FOUND_ROWS() instead. */
  def stripCalcFoundRows(sql: String): (Boolean, String) = {
    val toks = tokenize(sql)
    val i = toks.indexWhere(_.isWord("sql_calc_found_rows"))
    if (i < 0) (false, sql)
    else (true, splice(sql, Seq((toks(i).start, toks(i).end, ""))))
  }

  /** Remove the statement's TOP-LEVEL `LIMIT n [OFFSET m]` / `LIMIT m, n`
    * tail (for the SQL_CALC_FOUND_ROWS un-limited twin). */
  def stripTopLimit(sql: String): String = {
    val toks = tokenize(sql)
    var depth = 0
    var i = 0
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && toks(i).isWord("limit") =>
          // consume LIMIT and its operand tail: numbers, commas, OFFSET
          var j = i + 1
          while (j < toks.length &&
                 (toks(j).kind != Word || toks(j).isWord("offset") ||
                  toks(j).text.forall(c => c.isDigit))) j += 1
          val end = if (j < toks.length) toks(j).start else sql.length
          return splice(sql, Seq((toks(i).start, end, "")))
        case _ =>
      }
      i += 1
    }
    sql
  }

  /** MySQL error 1066: the same UNALIASED table name joined twice in
    * one FROM clause is "Not unique table/alias" (Spark admits the
    * self-join; the reference rejects it — sqllogictest join.txt L447).
    * Returns the offending name; aliased repeats are legal. Scope-aware:
    * a subquery's FROM is its own namespace. */
  def duplicateUnaliasedTable(sql: String): Option[String] = {
    val toks = tokenize(sql)
    // after a table name, these mean "no alias followed"
    val notAlias = Set("join", "inner", "left", "right", "full", "cross",
      "natural", "straight_join", "on", "using", "where", "group", "order",
      "limit", "offset", "having", "union", "intersect", "except", "for",
      "lateral", "window")
    // scope = (depthOfSelect); names collected per scope
    val names = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.Set[String]]
    val scopeIds = scala.collection.mutable.ArrayDeque.empty[Int]
    var nextScope = 0
    var depth = 0
    // depth -> scope id active at that depth
    val scopeAtDepth = scala.collection.mutable.Map.empty[Int, Int]
    // depth -> the paren at that depth is a JOIN GROUPING (preceded by
    // FROM/JOIN/comma or another transparent paren), so names inside it
    // belong to the ENCLOSING select scope. Parens opened by a function
    // call — EXTRACT(YEAR FROM d), SUBSTRING(s FROM n), TRIM(x FROM s)
    // — are opaque: a FROM inside them never registers a table.
    val transparentAt = scala.collection.mutable.Map.empty[Int, Boolean]
    var i = 0
    var inFromScope = -1
    while (i < toks.length) {
      val t = toks(i)
      t.text match {
        case "(" =>
          val prev = if (i > 0) Some(toks(i - 1)) else None
          depth += 1
          transparentAt(depth) = prev.exists(p =>
            p.isWord("from") || p.isWord("join") || p.text == "," ||
              (p.text == "(" && transparentAt.getOrElse(depth - 1, false)))
        case ")" =>
          scopeAtDepth.remove(depth)
          transparentAt.remove(depth)
          depth -= 1
        case _ if t.isWord("select") =>
          scopeAtDepth(depth) = { nextScope += 1; nextScope }
        case _ if t.isWord("from") || t.isWord("join") =>
          // the table name: skip open parens (join grouping) and LATERAL
          var k = i + 1
          while (k < toks.length && (toks(k).text == "(" ||
                 toks(k).isWord("lateral"))) k += 1
          // effective scope depth: drop through transparent (join
          // grouping) parens to the enclosing select's depth
          var ed = depth
          while (ed > 0 && !scopeAtDepth.contains(ed) &&
                 transparentAt.getOrElse(ed, false)) ed -= 1
          if (scopeAtDepth.contains(ed) &&
              k < toks.length && toks(k).kind == Word &&
              !toks(k).isWord("select") &&
              !toks(k).text.contains(".") && // qualified: rare, skip
              !notAlias(toks(k).text.toLowerCase)) {
            // aliased? `AS x` or a bare following word; a '(' next means
            // a table FUNCTION call (json_table(...)), not a table name
            val isCall = k + 1 < toks.length && toks(k + 1).text == "("
            val hasAlias = k + 1 < toks.length &&
              (toks(k + 1).isWord("as") ||
                (toks(k + 1).kind == Word &&
                 !notAlias(toks(k + 1).text.toLowerCase)))
            if (!hasAlias && !isCall) {
              // the SELECT scope at the effective depth (guarded above)
              val sc = scopeAtDepth(ed)
              val set = names.getOrElseUpdate(sc,
                scala.collection.mutable.Set.empty[String])
              val n = toks(k).text.toLowerCase
              if (!set.add(n)) return Some(toks(k).text)
            }
          }
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Retry-only (SCALAR_SUBQUERY_IN_VALUES): a single-row inline table
    * `(VALUES ROW(e1, e2, …)) AS v(c1, c2, …)` whose expressions hold
    * subqueries has no Spark evaluation; an equivalent one-row SELECT
    * does: `(SELECT e1 AS c1, e2 AS c2) AS v`. (sqllogictest
    * subquery_correlated.txt "Subquery in VALUES clause".) */
  def valuesRowSelect(sql: String): String = {
    val toks = tokenize(sql)
    var i = 0
    while (i + 2 < toks.length) {
      // `( VALUES ROW ( … ) )` or the ROW-stripped `( VALUES ( … ) )`
      val rowOpen =
        if (toks(i).text == "(" && toks(i + 1).isWord("values") &&
            toks(i + 2).isWord("row") && i + 3 < toks.length &&
            toks(i + 3).text == "(") i + 3
        else if (toks(i).text == "(" && toks(i + 1).isWord("values") &&
                 toks(i + 2).text == "(") i + 2
        else -1
      if (rowOpen > 0) {
        val rowClose = closeParenFor(toks, rowOpen)
        val outerClose = closeParenFor(toks, i)
        // single ROW only, then the closing paren of the VALUES group
        if (rowClose > 0 && outerClose == rowClose + 1) {
          // alias with column list: AS v ( c1 , c2 ) — optional
          var j = outerClose + 1
          if (j < toks.length && toks(j).isWord("as")) j += 1
          val (aliasTok, colsOpen) =
            if (j < toks.length && toks(j).kind == Word &&
                j + 1 < toks.length && toks(j + 1).text == "(")
              (Some(toks(j)), j + 1)
            else (None, -1)
          val exprs = {
            // top-level comma split of the ROW(...) body
            val body = sql.substring(toks(rowOpen).end, toks(rowClose).start)
            splitTopLevel(body).map(_.trim)
          }
          if (aliasTok.isDefined && colsOpen > 0) {
            val colsClose = closeParenFor(toks, colsOpen)
            val cols = sql.substring(toks(colsOpen).end,
              toks(colsClose).start).split(",").map(_.trim).toSeq
            if (cols.length == exprs.length && exprs.nonEmpty) {
              val items = exprs.zip(cols)
                .map { case (e, c) => s"$e AS `$c`" }.mkString(", ")
              return splice(sql, Seq((toks(i).start, toks(colsClose).end,
                s"(SELECT $items) AS ${aliasTok.get.text}")))
            }
          } else if (exprs.nonEmpty) {
            return splice(sql, Seq((toks(i).start, toks(outerClose).end,
              s"(SELECT ${exprs.mkString(", ")})")))
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Retry-only (UNSUPPORTED_CORRELATED_SCALAR_SUBQUERY in a join
    * condition): for an INNER join, `ON A AND B` ⟺ `ON A` + `WHERE B`,
    * so an ON-conjunct holding a scalar subquery moves to WHERE, where
    * Spark supports it. Left/right/outer joins bail (the move would
    * change null-extension semantics). */
  def innerJoinOnSubqueryToWhere(sql: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d; d += 1 }
      else if (t.text == ")") { d -= 1; depth(k) = d }
      else depth(k) = d
    }
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("on") && i > 0) {
        // the owning JOIN must be INNER (bare JOIN or INNER JOIN)
        var j = i - 1
        var joinAt = -1
        while (j >= 0 && joinAt < 0) {
          if (depth(j) == depth(i) && toks(j).isWord("join")) joinAt = j
          else if (depth(j) == depth(i) && toks(j).kind == Word &&
                   Set("where", "select", "from")(toks(j).text.toLowerCase))
            j = -1
          j -= 1
        }
        val inner = joinAt > 0 &&
          !Set("left", "right", "full", "outer", "cross", "natural")(
            toks(joinAt - 1).text.toLowerCase)
        if (inner) {
          // ON condition span: to the next same-depth clause keyword
          val stops = Set("where", "group", "order", "limit", "having",
            "union", "intersect", "except", "join", "inner", "left",
            "right", "full", "cross", "natural", "on")
          var end = i
          var k = i + 1
          var stop = false
          while (k < toks.length && !stop) {
            val t = toks(k)
            if (t.text == ")" && depth(k) < depth(i)) stop = true
            else if (t.text == ";") stop = true
            else if (depth(k) == depth(i) && t.kind == Word &&
                     stops(t.text.toLowerCase)) stop = true
            else { end = k; k += 1 }
          }
          // top-level AND conjuncts of the ON span; find one with a
          // subquery
          var cStart = i + 1
          var m = i + 1
          var moved: Option[(Int, Int)] = None
          while (m <= end + 1 && moved.isEmpty) {
            val atAnd = m > end ||
              (depth(m) == depth(i) && toks(m).isWord("and"))
            if (atAnd) {
              val hasSub = (cStart until m).exists(x =>
                toks(x).isWord("select"))
              if (hasSub && cStart > i + 1) moved = Some((cStart, m - 1))
              else cStart = m + 1
            }
            m += 1
          }
          moved.foreach { case (cs, ce) =>
            val conj = sql.substring(toks(cs).start, toks(ce).end)
            // splice: drop `AND conj` from ON; AND it into WHERE (or
            // open one at the ON span's end)
            val whereAt = (end + 1 until toks.length).find(x =>
              depth(x) == depth(i) && toks(x).isWord("where"))
            val patches = ArrayBuffer[(Int, Int, String)](
              (toks(cs - 1).start, toks(ce).end, "")) // the AND + conjunct
            whereAt match {
              case Some(w) =>
                patches += ((toks(w).end, toks(w).end, s" ($conj) AND "))
              case None =>
                patches += ((toks(end).end, toks(end).end, s" WHERE $conj "))
            }
            return splice(sql, patches.toSeq)
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Retry-only (UNRESOLVED_COLUMN inside a GROUP BY / ORDER BY
    * expression): MySQL accepts full expressions (including correlated
    * subqueries) in GROUP BY; Spark resolves them better through the
    * select-list ALIAS when the identical expression is projected.
    * Substitute any GROUP BY / ORDER BY item that textually matches an
    * aliased select item with the alias. */
  def groupOrderExprAlias(sql: String): String = {
    val toks = tokenize(sql)
    val sels = topSelects(toks)
    if (sels.size != 1) return sql
    val s = sels.head
    if (s.fromAt <= s.selectAt) return sql
    def normTxt(t: String) = t.replaceAll("\\s+", " ").trim.toLowerCase
    // aliased select items
    val items = splitTopLevel(
      sql.substring(toks(s.selectAt).end, toks(s.fromAt).start))
    val aliased = items.flatMap { it =>
      val m = "(?is)^(.*?)\\s+AS\\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\\s*$"
        .r.findFirstMatchIn(it)
      m.map(mm => normTxt(mm.group(1)) -> mm.group(2))
    }.toMap
    if (aliased.isEmpty) return sql
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    // GROUP BY / ORDER BY item lists at top level
    var i = 0
    var depth = 0
    while (i < toks.length) {
      toks(i).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 &&
            (toks(i).isWord("group") || toks(i).isWord("order")) &&
            i + 1 < toks.length && toks(i + 1).isWord("by") =>
          val stops = Set("having", "order", "limit", "offset", "union",
            "intersect", "except", "group", "window")
          var end = i + 1
          var k = i + 2
          var d2 = 0
          var stop = false
          while (k < toks.length && !stop) {
            val t = toks(k)
            if (t.text == "(") d2 += 1
            else if (t.text == ")") { if (d2 == 0) stop = true else d2 -= 1 }
            else if (t.text == ";" && d2 == 0) stop = true
            else if (d2 == 0 && t.kind == Word && stops(t.text.toLowerCase))
              stop = true
            if (!stop) { end = k; k += 1 }
          }
          if (end > i + 1) {
            val span = sql.substring(toks(i + 2).start, toks(end).end)
            val rebuilt = splitTopLevel(span).map { item0 =>
              val item = item0.trim
              val m = "(?i)\\s+(ASC|DESC)$".r.findFirstMatchIn(item)
              val (core, dir) = m match {
                case Some(mm) => (item.substring(0, mm.start), " " + mm.group(1))
                case None => (item, "")
              }
              aliased.get(normTxt(core)) match {
                case Some(al) => s"$al$dir"
                case None => item
              }
            }
            val out = rebuilt.mkString(", ")
            if (normTxt(out) != normTxt(span))
              patches += ((toks(i + 2).start, toks(end).end, out))
            i = end
          }
        case _ =>
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Retry-only (UNRESOLVED_COLUMN naming a 2-levels-out reference):
    * the exists-max shape — a scalar subquery whose WHERE equates one
    * LOCAL column to both a near (1-out) and a deep (2-out) reference:
    *
    *   ... WHERE ab.b = (SELECT max(v) FROM uv
    *                     WHERE uv.v = ab2.a AND uv.v = ab.a) ...
    *
    * By transitivity `v=deep AND v=near` ⟺ `v=near AND near=deep`, and
    * in a WHERE-conjunct truth context the `near=deep` factor can hoist
    * into the ENCLOSING query (when it fails, the inner set is empty →
    * scalar NULL → the enclosing conjunct was already not-true). After
    * the hoist every reference is one scope deep, which Spark resolves.
    * Fires only when the subquery's enclosing WHERE is a pure AND
    * conjunction (no top-level OR/NOT — the hoist would change their
    * semantics). Reference surface: queries.go exists-max pair,
    * sqllogictest subquery_correlated.txt L435. */
  def hoistDeepEquality(sql: String, needle: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d0 = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d0; d0 += 1 }
      else if (t.text == ")") { d0 -= 1; depth(k) = d0 }
      else depth(k) = d0
    }
    // every occurrence of the needle as a word token
    val occ = toks.indices.filter(k => toks(k).kind == Word &&
      toks(k).text.equalsIgnoreCase(needle))
    for (at <- occ) {
      // the conjunct `A = needle` / `needle = A` (A a word token)
      val (aTok, lo, hi) =
        if (at >= 2 && toks(at - 1).text == "=" && toks(at - 2).kind == Word)
          (Some(toks(at - 2)), at - 2, at)
        else if (at + 2 < toks.length && toks(at + 1).text == "=" &&
                 toks(at + 2).kind == Word)
          (Some(toks(at + 2)), at, at + 2)
        else (None, -1, -1)
      val okBounds = aTok.isDefined &&
        (lo == 0 || toks(lo - 1).isWord("and") || toks(lo - 1).isWord("where")) &&
        (hi + 1 >= toks.length || toks(hi + 1).isWord("and") ||
          toks(hi + 1).text == ")" || toks(hi + 1).text == ";")
      if (okBounds) {
        val a = aTok.get.text
        // the innermost subquery containing the conjunct: nearest '('
        // to the left at depth(at)-1 whose next token is SELECT
        var open = -1
        var k = at - 1
        while (k >= 0 && open < 0) {
          if (toks(k).text == "(" && depth(k) == depth(at) - 1 &&
              k + 1 < toks.length && toks(k + 1).isWord("select")) open = k
          else if (toks(k).text == "(" && depth(k) < depth(at) - 1) k = -1
          k -= 1
        }
        if (open >= 0) {
          val close = closeParenFor(toks, open)
          // WHERE span of the inner subquery
          val whereAt = (open + 1 until close).find(j =>
            depth(j) == depth(at) && toks(j).isWord("where")).getOrElse(-1)
          if (whereAt > 0 && at > whereAt) {
            // sibling conjunct `A = B` (B any OTHER word token) inside
            // the same WHERE span
            val sibling = (whereAt + 1 until close).collectFirst {
              case j if j != lo && depth(j) == depth(at) &&
                  toks(j).kind == Word && toks(j).text.equalsIgnoreCase(a) &&
                  j + 2 < close && toks(j + 1).text == "=" &&
                  toks(j + 2).kind == Word &&
                  !toks(j + 2).text.equalsIgnoreCase(needle) =>
                toks(j + 2).text
              case j if j != hi && depth(j) == depth(at) &&
                  toks(j).kind == Word && toks(j).text.equalsIgnoreCase(a) &&
                  j >= whereAt + 3 && toks(j - 1).text == "=" &&
                  toks(j - 2).kind == Word &&
                  !toks(j - 2).text.equalsIgnoreCase(needle) =>
                toks(j - 2).text
            }
            sibling.foreach { b =>
              // enclosing query's WHERE: nearest WHERE to the left of
              // `open` at depth(open); require pure AND conjunction
              val encDepth = depth(open)
              var encWhere = -1
              var m = open - 1
              while (m >= 0 && encWhere < 0) {
                if (depth(m) == encDepth && toks(m).isWord("where"))
                  encWhere = m
                else if (depth(m) < encDepth) m = -1
                m -= 1
              }
              if (encWhere >= 0) {
                val encEnd = condSpanEnd(toks, encWhere)
                val pure = (encWhere + 1 to encEnd).forall(j =>
                  !(depth(j) == encDepth && (toks(j).isWord("or") ||
                    (toks(j).isWord("not") &&
                      !(j > 0 && toks(j - 1).isWord("is"))))))
                if (pure && encEnd >= encWhere + 1) {
                  // drop the deep conjunct; hoist `B = needle` around
                  // the enclosing condition
                  return splice(sql, Seq(
                    (toks(encWhere).end, toks(encWhere).end,
                      s" $b = $needle AND ("),
                    (toks(lo).start, toks(hi).end, "TRUE"),
                    (toks(encEnd).end, toks(encEnd).end, ")")))
                }
              }
            }
          }
        }
      }
    }
    sql
  }

  /** `AS "alias"`: MySQL accepts a double-quoted (or single-quoted)
    * string in column-alias position even without ANSI_QUOTES
    * (script_queries.go Issue #499); Spark wants an identifier. The
    * quoted alias becomes a backticked identifier. */
  def quotedAliases(sql: String): String = {
    if (!sql.contains("\"")) return sql
    val toks = tokenize(sql)
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.isWord("as") && k + 1 < toks.length &&
          toks(k + 1).kind == Lit && toks(k + 1).text.startsWith("\"") &&
          toks(k + 1).text.length >= 2) {
        val inner = toks(k + 1).text.drop(1).dropRight(1)
        if (!inner.contains("`"))
          patches += ((toks(k + 1).start, toks(k + 1).end, s"`$inner`"))
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Retry-only (UNRESOLVED_COLUMN on a db-qualified column): MySQL
    * resolves `db1.t1.i` column references (script_queries.go Multi-db
    * Aliasing); Spark's temp-view-backed namespaces don't. Strip the db
    * qualifier from 3-part column references whose db.table prefix
    * matches a FROM/JOIN target of the statement. */
  def dbQualifiedColumns(sql: String): String = {
    val toks = tokenize(sql)
    val targets = toks.indices.collect {
      case k if (toks(k).isWord("from") || toks(k).isWord("join")) &&
          k + 1 < toks.length && toks(k + 1).kind == Word &&
          toks(k + 1).text.count(_ == '.') == 1 =>
        toks(k + 1).text.toLowerCase
    }.toSet
    if (targets.isEmpty) return sql
    val patches = ArrayBuffer.empty[(Int, Int, String)]
    // dolt scope leak: `db.``.col` (EMPTY backticked table) resolves as
    // a bare column of db's joined tables (Multi-db Aliasing block)
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.kind == Word && t.text.endsWith(".") &&
          k + 2 < toks.length && toks(k + 1).text == "``" &&
          toks(k + 2).kind == Word && toks(k + 2).text.startsWith(".") &&
          targets.exists(_.startsWith(
            t.text.dropRight(1).toLowerCase + "."))) {
        patches += ((t.start, toks(k + 2).end, toks(k + 2).text.drop(1)))
      }
    }
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.kind == Word && t.text.count(_ == '.') == 2 &&
          !(k + 1 < toks.length && toks(k + 1).text == "(")) {
        val lastDot = t.text.lastIndexOf('.')
        val prefix = t.text.substring(0, lastDot)
        if (targets(prefix.toLowerCase)) {
          val tbl = prefix.substring(prefix.indexOf('.') + 1)
          patches += ((t.start, t.end,
            tbl + t.text.substring(lastDot)))
        }
      }
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }

  /** Retry-only (UNSUPPORTED_CORRELATED_SCALAR_SUBQUERY in ORDER BY):
    * MySQL sorts by correlated scalar subqueries (script_queries.go
    * "TopN rows where sort condition is a subquery"); Spark evaluates
    * correlated scalars only in filters/aggregations/projections. Lift
    * each subquery ORDER key into a hidden projection of a derived
    * table and sort by the alias:
    *
    *   SELECT <items> FROM R ORDER BY (SELECT …) DESC LIMIT 1
    *   -> SELECT * EXCEPT (__ord0) FROM
    *        (SELECT <items>, (SELECT …) AS __ord0 FROM R) __ordt
    *      ORDER BY __ord0 DESC LIMIT 1
    */
  def orderBySubqueryLift(sql: String): String = {
    val toks = tokenize(sql)
    val sels = topSelects(toks)
    if (sels.size != 1) return sql
    val s = sels.head
    if (s.fromAt <= s.selectAt || s.groupAt >= 0 || s.havingAt >= 0)
      return sql
    if (s.selectAt + 1 < toks.length &&
        toks(s.selectAt + 1).isWord("distinct")) return sql
    // top-level ORDER BY
    var depth = 0
    var orderAt = -1
    toks.zipWithIndex.foreach { case (t, k) =>
      t.text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case _ if depth == 0 && orderAt < 0 && t.isWord("order") &&
            k + 1 < toks.length && toks(k + 1).isWord("by") => orderAt = k
        case _ =>
      }
    }
    if (orderAt < 0) return sql
    // ORDER item list end (before LIMIT/OFFSET/end)
    var end = orderAt + 1
    var j = orderAt + 2
    depth = 0
    var stop = false
    while (j < toks.length && !stop) {
      toks(j).text match {
        case "(" => depth += 1
        case ")" => depth -= 1
        case ";" if depth == 0 => stop = true
        case w if depth == 0 && toks(j).kind == Word &&
            Set("limit", "offset")(w.toLowerCase) => stop = true
        case _ =>
      }
      if (!stop) { end = j; j += 1 }
    }
    val items = sql.substring(toks(s.selectAt).end, toks(s.fromAt).start)
    val fromSpan = sql.substring(toks(s.fromAt).start, toks(orderAt).start)
    val tail = sql.substring(toks(end).end)
    val keys = splitTopLevel(
      sql.substring(toks(orderAt + 2).start, toks(end).end))
    var n = 0
    val lifted = keys.map { k0 =>
      val k = k0.trim
      val m = "(?i)\\s+(ASC|DESC)$".r.findFirstMatchIn(k)
      val (core, dir) = m match {
        case Some(mm) => (k.substring(0, mm.start).trim, " " + mm.group(1))
        case None => (k, "")
      }
      if ("(?is)^\\(\\s*select\\b".r.findFirstIn(core).isDefined) {
        val a = s"__ord$n"; n += 1
        (Some(s"$core AS $a"), s"$a$dir")
      } else (None, k)
    }
    if (n == 0) return sql
    val hidden = lifted.flatMap(_._1).mkString(", ")
    val outerKeys = lifted.map(_._2).mkString(", ")
    val exceptCols = (0 until n).map(i => s"__ord$i").mkString(", ")
    s"SELECT * EXCEPT ($exceptCols) FROM (SELECT $items, $hidden " +
      s"$fromSpan) __ordt ORDER BY $outerKeys$tail"
  }

  /** Retry-only (UNRESOLVED_COLUMN naming a too-deep reference): a
    * DERIVED TABLE whose WHERE carries an AND-conjunct that references
    * NOTHING from the derived table's own FROM (only deeper outer refs
    * — the reference's derived-table scope leak, queries.go
    * `join (select t2.y from xy t2 where exists(... xy.x ...)) t1`)
    * hoists that conjunct into the ENCLOSING query's WHERE. Valid for
    * inner/cross-joined derived tables (a local-free filter commutes
    * with the join); every outer reference in the conjunct rises one
    * scope, which Spark can resolve. */
  def hoistDerivedConjunct(sql: String, needle: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d0 = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d0; d0 += 1 }
      else if (t.text == ")") { d0 -= 1; depth(k) = d0 }
      else depth(k) = d0
    }
    val occ = toks.indices.filter(k => toks(k).kind == Word &&
      toks(k).text.equalsIgnoreCase(needle))
    for (at <- occ) {
      // enclosing select-opens, innermost first
      var opens = List.empty[Int]
      var rel = 0
      var k = at - 1
      while (k >= 0) {
        if (toks(k).text == ")") rel += 1
        else if (toks(k).text == "(") {
          if (rel == 0) {
            if (k + 1 < toks.length && toks(k + 1).isWord("select"))
              opens ::= k
          } else rel -= 1
        }
        k -= 1
      }
      // innermost derived-table select among them (not under an outer
      // join) whose WHERE span contains the needle
      for (open <- opens.reverse) { // innermost-first
        val close = closeParenFor(toks, open)
        val prev = open - 1
        val isDerivedCtx = prev >= 0 && (toks(prev).isWord("join") ||
          toks(prev).isWord("from") || toks(prev).text == ",")
        val innerJoin = !(prev >= 1 && toks(prev).isWord("join") &&
          Set("left", "right", "full", "outer")(
            toks(prev - 1).text.toLowerCase))
        val aliasAfter = close + 1 < toks.length &&
          (toks(close + 1).kind == Word || toks(close + 1).isWord("as"))
        if (isDerivedCtx && innerJoin && aliasAfter) {
          val selDepth = depth(open) + 1
          val whereAt = (open + 1 until close).find(j =>
            depth(j) == selDepth && toks(j).isWord("where")).getOrElse(-1)
          if (whereAt > 0 && at > whereAt && at < close) {
            val whereEnd = {
              var e = whereAt
              var j = whereAt + 1
              var stop = false
              while (j < close && !stop) {
                if (depth(j) == selDepth && toks(j).kind == Word &&
                    Set("group", "order", "limit", "having", "union",
                      "window")(toks(j).text.toLowerCase)) stop = true
                else { e = j; j += 1 }
              }
              e
            }
            // conjunct boundaries: split at ANDs at selDepth; bail on
            // OR/NOT (outside IS NOT) at selDepth
            val impure = (whereAt + 1 to whereEnd).exists(j =>
              depth(j) == selDepth && (toks(j).isWord("or") ||
                (toks(j).isWord("not") &&
                  !(j > 0 && toks(j - 1).isWord("is")))))
            if (!impure) {
              val ands = (whereAt + 1 to whereEnd).filter(j =>
                depth(j) == selDepth && toks(j).isWord("and"))
              val bounds = (whereAt +: ands :+ (whereEnd + 1))
              val conj = bounds.sliding(2).map(p => (p(0) + 1, p(1) - 1))
                .find { case (a, b) => at >= a && at <= b }
              conj.foreach { case (cs, ce) =>
                // derived table's own FROM relation names
                val fromAt = (open + 1 until close).find(j =>
                  depth(j) == selDepth && toks(j).isWord("from"))
                  .getOrElse(-1)
                val locals = scala.collection.mutable.Set.empty[String]
                if (fromAt > 0) {
                  var j = fromAt
                  while (j < whereAt) {
                    if (toks(j).isWord("from") || toks(j).isWord("join")) {
                      var n = j + 1
                      while (n < whereAt && toks(n).text == "(") n += 1
                      if (n < whereAt && toks(n).kind == Word &&
                          !toks(n).isWord("select")) {
                        // effective name = alias if present, else table
                        var a = n + 1
                        if (a < whereAt && toks(a).isWord("as")) a += 1
                        if (a < whereAt && toks(a).kind == Word &&
                            !Set("join", "inner", "left", "right", "full",
                              "cross", "natural", "on", "using", "where")(
                              toks(a).text.toLowerCase))
                          locals += toks(a).text.toLowerCase
                        else locals += toks(n).text.toLowerCase
                      }
                    }
                    j += 1
                  }
                }
                val refsLocal = (cs to ce).exists { j =>
                  val t = toks(j)
                  t.kind == Word && locals.exists(l =>
                    t.text.equalsIgnoreCase(l) ||
                    t.text.toLowerCase.startsWith(l + "."))
                }
                if (!refsLocal && locals.nonEmpty && fromAt > 0) {
                  val conjTxt = sql.substring(toks(cs).start, toks(ce).end)
                  // drop the conjunct from the derived WHERE
                  val patches = ArrayBuffer.empty[(Int, Int, String)]
                  if (ands.isEmpty)
                    patches += ((toks(whereAt).start, toks(ce).end, ""))
                  else if (cs == whereAt + 1)
                    patches += ((toks(cs).start, toks(ce + 1).end, ""))
                  else
                    patches += ((toks(cs - 1).start, toks(ce).end, ""))
                  // append to the ENCLOSING select's WHERE (or open one
                  // after the derived table's alias clause)
                  val encDepth = depth(open)
                  var encWhere = -1
                  var stopAt = -1
                  var j = close + 1
                  while (j < toks.length && stopAt < 0 && encWhere < 0) {
                    val t = toks(j)
                    if (t.text == ")" && depth(j) < encDepth) stopAt = j
                    else if (t.text == ";") stopAt = j
                    else if (depth(j) == encDepth && t.kind == Word) {
                      if (t.isWord("where")) encWhere = j
                      else if (Set("group", "order", "limit", "having",
                        "union", "window")(t.text.toLowerCase)) stopAt = j
                    }
                    if (encWhere < 0 && stopAt < 0) j += 1
                  }
                  if (encWhere >= 0)
                    patches += ((toks(encWhere).end, toks(encWhere).end,
                      s" ($conjTxt) AND "))
                  else {
                    val ins = if (stopAt >= 0) toks(stopAt).start
                              else sql.length
                    patches += ((ins, ins, s" WHERE $conjTxt "))
                  }
                  return splice(sql, patches.toSeq)
                }
              }
            }
          }
        }
      }
    }
    sql
  }

  /** Retry-only (UNRESOLVED_COLUMN naming a 2-levels-out reference),
    * sibling of [[hoistDeepEquality]]: when the ENCLOSING query's
    * pure-AND WHERE already pins `B = needle`, the deep subquery can
    * simply substitute B for the needle — exact, because rows where the
    * pin fails never evaluate the subquery. If the inner FROM's
    * table/alias SHADOWS B's qualifier (`FROM o` inside `FROM o WHERE
    * o.c_id=c.c_id`), the inner relation first renames to a fresh
    * alias. (sqllogictest subquery_correlated.txt L560.) */
  def substDeepEquality(sql: String, needle: String): String = {
    val toks = tokenize(sql)
    val depth = new Array[Int](toks.length)
    var d0 = 0
    toks.zipWithIndex.foreach { case (t, k) =>
      if (t.text == "(") { depth(k) = d0; d0 += 1 }
      else if (t.text == ")") { d0 -= 1; depth(k) = d0 }
      else depth(k) = d0
    }
    val occ = toks.indices.filter(k => toks(k).kind == Word &&
      toks(k).text.equalsIgnoreCase(needle))
    for (at <- occ) {
      // innermost subquery containing the occurrence
      var open = -1
      var k = at - 1
      while (k >= 0 && open < 0) {
        if (toks(k).text == "(" && depth(k) == depth(at) - 1 &&
            k + 1 < toks.length && toks(k + 1).isWord("select")) open = k
        else if (toks(k).text == "(" && depth(k) < depth(at) - 1) k = -1
        k -= 1
      }
      if (open >= 0) {
        val close = closeParenFor(toks, open)
        // the enclosing scope's WHERE with a pure AND conjunct B = needle
        val encDepth = depth(open)
        var encWhere = -1
        var m = open - 1
        while (m >= 0 && encWhere < 0) {
          if (depth(m) == encDepth && toks(m).isWord("where")) encWhere = m
          else if (depth(m) < encDepth) m = -1
          m -= 1
        }
        if (encWhere >= 0) {
          val encEnd = condSpanEnd(toks, encWhere)
          val pure = (encWhere + 1 to encEnd).forall(j =>
            !(depth(j) == encDepth && (toks(j).isWord("or") ||
              (toks(j).isWord("not") &&
                !(j > 0 && toks(j - 1).isWord("is"))))))
          val bOpt = (encWhere + 1 to encEnd).collectFirst {
            case j if depth(j) == encDepth && toks(j).kind == Word &&
                toks(j).text.equalsIgnoreCase(needle) &&
                j >= encWhere + 3 && toks(j - 1).text == "=" &&
                toks(j - 2).kind == Word &&
                !toks(j - 2).text.equalsIgnoreCase(needle) =>
              toks(j - 2).text
            case j if depth(j) == encDepth && toks(j).kind == Word &&
                toks(j).text.equalsIgnoreCase(needle) &&
                j + 2 <= encEnd && toks(j + 1).text == "=" &&
                toks(j + 2).kind == Word &&
                !toks(j + 2).text.equalsIgnoreCase(needle) =>
              toks(j + 2).text
          }
          (bOpt, if (pure) Some(()) else None) match {
            case (Some(b), Some(())) =>
              val bQual = b.split('.').headOption.getOrElse("")
              // inner FROM: single table [alias]
              val fromAt = (open + 1 until close).find(j =>
                depth(j) == depth(at) && toks(j).isWord("from")).getOrElse(-1)
              if (fromAt > 0 && fromAt + 1 < close &&
                  toks(fromAt + 1).kind == Word) {
                val innerTbl = toks(fromAt + 1).text
                val innerAlias =
                  if (fromAt + 2 < close && toks(fromAt + 2).kind == Word &&
                      !toks(fromAt + 2).isWord("where"))
                    Some(toks(fromAt + 2).text)
                  else None
                val innerName = innerAlias.getOrElse(innerTbl)
                val patches = ArrayBuffer.empty[(Int, Int, String)]
                if (b.contains(".") &&
                    innerName.equalsIgnoreCase(bQual)) {
                  // shadowed: rename the inner relation, requalify its refs
                  val fresh = "__sh" + open
                  innerAlias match {
                    case Some(_) =>
                      patches += ((toks(fromAt + 2).start,
                        toks(fromAt + 2).end, fresh))
                    case None =>
                      patches += ((toks(fromAt + 1).end,
                        toks(fromAt + 1).end, s" $fresh"))
                  }
                  (open + 1 until close).foreach { j =>
                    val t = toks(j)
                    if (j != at && t.kind == Word &&
                        t.text.toLowerCase.startsWith(
                          innerName.toLowerCase + "."))
                      patches += ((t.start, t.end,
                        fresh + t.text.substring(innerName.length)))
                  }
                } else if (innerName.equalsIgnoreCase(bQual)) {
                  // unqualified B with shadow risk: bail
                  patches.clear()
                }
                if (b.contains(".") || !innerName.equalsIgnoreCase(bQual)) {
                  patches += ((toks(at).start, toks(at).end, b))
                  return splice(sql, patches.toSeq)
                }
              }
            case _ =>
          }
        }
      }
    }
    sql
  }

  /** Retry-only (PARSE_SYNTAX_ERROR on ANY/SOME/ALL): MySQL quantified
    * subquery comparisons `X op ANY (SELECT e FROM …)` / `X op ALL (…)`
    * have no Spark parse. Rewrite to a correlated aggregate scalar
    * subquery with exact 3VL (reference sql/expression/comparison.go
    * AnyCmp/AllCmp semantics; CockroachDB-derived sqllogictest
    * subquery_correlated.txt is the conformance surface):
    *
    *   X op ANY (SELECT e FROM R) ->
    *     (SELECT CASE WHEN max(F) = 2 THEN TRUE
    *                  WHEN max(F) = 1 THEN CAST(NULL AS BOOLEAN)
    *                  ELSE FALSE END
    *      FROM R)  with F = CASE WHEN (X) op (e) THEN 2
    *                             WHEN ((X) op (e)) IS NULL THEN 1
    *                             ELSE 0 END
    *
    * (ALL dually: F tests NOT((X) op (e)), result ELSE-branch TRUE.)
    * The global aggregate always returns one row, so the empty set maps
    * to FALSE (ANY) / TRUE (ALL); a null-valued comparison anywhere
    * yields NULL unless decided. X moves one scope down, which keeps
    * its own references resolvable (Spark outer refs are one-level).
    * One occurrence per pass — the Engine retry loop re-enters. */
  def quantifiedCompare(sql: String): String = {
    val toks = tokenize(sql)
    val stopsLeft = Set("and", "or", "not", "where", "having", "on",
      "when", "then", "else", "select", "by", "case")
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == Sym && cmpSyms(toks(i).text) &&
          i + 3 < toks.length &&
          (toks(i + 1).isWord("any") || toks(i + 1).isWord("some") ||
           toks(i + 1).isWord("all")) &&
          toks(i + 2).text == "(" && toks(i + 3).isWord("select")) {
        val op = toks(i).text
        val isAll = toks(i + 1).isWord("all")
        val close = closeParenFor(toks, i + 2)
        if (close > 0) {
          // subquery internals: single select item, then FROM tail
          val subDepth = {
            var d = 0
            toks.slice(0, i + 3).foreach { t =>
              if (t.text == "(") d += 1 else if (t.text == ")") d -= 1 }
            d
          }
          var d2 = subDepth
          var fromAt = -1; var multi = false
          var k = i + 3
          while (k < close && fromAt < 0) {
            toks(k).text match {
              case "(" => d2 += 1
              case ")" => d2 -= 1
              case "," if d2 == subDepth => multi = true
              case _ if d2 == subDepth && toks(k).isWord("from") &&
                  k > i + 3 => fromAt = k
              case _ =>
            }
            k += 1
          }
          // When the subquery's top level has GROUP BY / HAVING / LIMIT
          // / set operators, splicing min/max/count around the FROM
          // tail would make a grouped scalar subquery (one row per
          // group — runtime error or wrong quantifier). Those shapes
          // compute the aggregates over the subquery WRAPPED as a
          // derived table instead.
          var needsWrap = false
          if (fromAt > 0) {
            var d3 = subDepth
            var k2 = fromAt
            val grpStops = Set("group", "having", "limit", "union",
              "intersect", "except")
            while (k2 < close && !needsWrap) {
              toks(k2).text match {
                case "(" => d3 += 1
                case ")" => d3 -= 1
                case _ if d3 == subDepth && toks(k2).kind == Word &&
                    grpStops(toks(k2).text.toLowerCase) => needsWrap = true
                case _ =>
              }
              k2 += 1
            }
          }
          if (fromAt > 0 && !multi) {
            var eStart = i + 4
            if (toks(eStart).isWord("distinct")) eStart += 1
            val eTxt = sql.substring(toks(eStart).start,
              toks(fromAt - 1).end)
            val restTxt = sql.substring(toks(fromAt).start,
              toks(close - 1).end)
            // X span: walk left to the conjunct boundary
            var rel = 0; var found = -1; var bail = false
            var p = i - 1
            while (p >= 0 && found < 0 && !bail) {
              val t = toks(p)
              if (t.text == ")") rel += 1
              else if (t.text == "(") {
                if (rel == 0) found = p + 1 else rel -= 1
              } else if (rel == 0 && t.kind == Word &&
                         stopsLeft(t.text.toLowerCase)) found = p + 1
              else if (rel == 0 && t.text == ",") found = p + 1
              else if (rel < 0) bail = true
              if (found < 0) p -= 1
            }
            if (p < 0 && found < 0) found = 0
            if (!bail && found >= 0 && found <= i - 1) {
              val xTxt = sql.substring(toks(found).start, toks(i - 1).end)
              val subTxt = sql.substring(toks(i + 3).start,
                toks(close - 1).end)
              // = ANY and <> ALL are IN / NOT IN, which Spark evaluates
              // natively with exact 3VL
              val native =
                if (op == "=" && !isAll) Some(s"($xTxt) IN ($subTxt)")
                else if ((op == "<>" || op == "!=") && isAll)
                  Some(s"($xTxt) NOT IN ($subTxt)")
                else None
              // Spark allows outer refs only in the subquery's
              // WHERE/HAVING, so each aggregate the decision needs
              // becomes its OWN pure-local correlated scalar subquery
              // (`S(agg)`) and the outer X combines with them OUTSIDE;
              // min/max/count(distinct) decide every ordering op exactly
              val x = s"($xTxt)"
              val (ee, mkS) =
                if (needsWrap) {
                  // grouped/limited/set-op body: aggregate over the
                  // whole subquery as a derived table, never around its
                  // FROM tail (value column aliased in the first branch)
                  val inner = s"SELECT ($eTxt) AS __graft_qv $restTxt"
                  ("__graft_qv",
                    (agg: String) =>
                      s"(SELECT $agg FROM ($inner) __graft_q)")
                } else
                  (s"($eTxt)",
                    (agg: String) => s"(SELECT $agg $restTxt)")
              def S(agg: String) = mkS(agg)
              val cnt = S("count(1)"); val cntE = S(s"count($ee)")
              val cntD = S(s"count(distinct $ee)")
              val mn = S(s"min($ee)"); val mx = S(s"max($ee)")
              val decided: Option[String] = (op, isAll) match {
                case ("<", false)  => Some(s"$x < $mx")
                case ("<=", false) => Some(s"$x <= $mx")
                case (">", false)  => Some(s"$x > $mn")
                case (">=", false) => Some(s"$x >= $mn")
                case ("<>" | "!=", false) =>
                  Some(s"$cntD >= 2 OR ($cntD = 1 AND $x <> $mn)")
                case ("<", true)   => Some(s"$x >= $mn")
                case ("<=", true)  => Some(s"$x > $mn")
                case (">", true)   => Some(s"$x <= $mx")
                case (">=", true)  => Some(s"$x < $mx")
                case ("=", true)   =>
                  Some(s"$cntD >= 2 OR ($cntD = 1 AND $x <> $mn)")
                case _ => None // <=> quantified: no MySQL surface
              }
              val repl = native.orElse(decided.map { dec =>
                val (hit, miss) = if (isAll) ("FALSE", "TRUE")
                                  else ("TRUE", "FALSE")
                s"(CASE WHEN $cnt = 0 THEN $miss " +
                s"WHEN $x IS NULL THEN CAST(NULL AS BOOLEAN) " +
                s"WHEN $dec THEN $hit " +
                s"WHEN $cnt > $cntE THEN CAST(NULL AS BOOLEAN) " +
                s"ELSE $miss END)"
              })
              repl match {
                case Some(r) =>
                  return splice(sql, Seq(
                    (toks(found).start, toks(close).end, r)))
                case None => ()
              }
            }
          }
        }
      }
      i += 1
    }
    sql
  }

  /** Retry-only (DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION): MySQL
    * decimals reach precision 65 (ref sql/types/decimal.go:58); Spark
    * caps at 38. Literal-only shapes fold at rewrite time with
    * java.math.BigDecimal under MySQL scale rules — division widens the
    * working scale to `ceil((s1+s2+4)/9)*9` digits (ref
    * sql/expression/div.go:226) — and splice back as the exact display
    * string (the reference marshals wide DECIMALs as display strings
    * anyway). Two shapes fold: `CAST(<literal arith> AS DECIMAL(p,s))`
    * with p > 38, and a bare numeric literal wider than 38 digits in a
    * select list. Non-literal shapes are left for the error to surface. */
  def foldWideDecimal(sql: String): String = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val toks = tokenize(sql)
    def isNum(t: Tok): Boolean =
      t.kind == Word && t.text.matches("\\d+(\\.\\d+)?")

    /** MySQL division: working scale = inc*9 where
      * inc = ceil((s1+s2+4)/9), floored by ceil(s1/9)+ceil(s2/9) when
      * both operands have fraction digits. */
    def mysqlDiv(a: JBD, b: JBD): Option[JBD] = {
      if (b.signum() == 0) return None
      val (ls, rs) = (math.max(a.scale, 0), math.max(b.scale, 0))
      var inc = math.ceil((ls + rs + 4) / 9.0).toInt
      if (ls != 0 && rs != 0) {
        val inc2 = math.ceil(ls / 9.0).toInt + math.ceil(rs / 9.0).toInt
        if (inc2 > inc) inc = inc2
      }
      Some(a.divide(b, inc * 9, RoundingMode.HALF_UP))
    }

    /** Recursive-descent eval of a literal-only token span. */
    def evalSpan(from: Int, to: Int): Option[JBD] = {
      var p = from
      def parseExpr(): Option[JBD] = {
        var acc = parseTerm()
        while (acc.isDefined && p <= to && toks(p).kind == Sym &&
               (toks(p).text == "+" || toks(p).text == "-")) {
          val op = toks(p).text; p += 1
          acc = for (a <- acc; b <- parseTerm())
            yield if (op == "+") a.add(b) else a.subtract(b)
        }
        acc
      }
      def parseTerm(): Option[JBD] = {
        var acc = parseFactor()
        while (acc.isDefined && p <= to && toks(p).kind == Sym &&
               (toks(p).text == "*" || toks(p).text == "/")) {
          val op = toks(p).text; p += 1
          acc = for {
            a <- acc; b <- parseFactor()
            r <- if (op == "*") Some(a.multiply(b)) else mysqlDiv(a, b)
          } yield r
        }
        acc
      }
      def parseFactor(): Option[JBD] = {
        if (p > to) return None
        val t = toks(p)
        if (t.kind == Sym && (t.text == "-" || t.text == "+")) {
          p += 1
          parseFactor().map(v => if (t.text == "-") v.negate else v)
        } else if (t.text == "(") {
          p += 1
          val inner = parseExpr()
          if (p <= to && toks(p).text == ")") { p += 1; inner } else None
        } else if (isNum(t)) { p += 1; Some(new JBD(t.text)) }
        else None
      }
      val r = parseExpr()
      if (p == to + 1) r else None
    }

    val patches = ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.isWord("cast") && i + 1 < toks.length && toks(i + 1).text == "(") {
        val close = closeParenFor(toks, i + 1)
        // shape: cast ( EXPR as decimal ( p [, s] ) ) — the AS sits one
        // level inside the cast's paren
        var depth = 0; var asAt = -1
        var k = i + 2
        while (k < close && asAt < 0) {
          toks(k).text match {
            case "(" => depth += 1
            case ")" => depth -= 1
            case _ if depth == 0 && toks(k).isWord("as") => asAt = k
            case _ =>
          }
          k += 1
        }
        if (close > 0 && asAt > i + 2 && asAt + 2 < close &&
            toks(asAt + 1).isWord("decimal") && toks(asAt + 2).text == "(") {
          val dClose = closeParenFor(toks, asAt + 2)
          val args = (asAt + 3 until dClose).map(toks)
            .filter(x => x.kind == Word).map(_.text)
          val prec = args.headOption.flatMap(_.toIntOption).getOrElse(10)
          val scale = args.lift(1).flatMap(_.toIntOption).getOrElse(0)
          if (prec > 38 && scale <= 30 && dClose == close - 1) {
            evalSpan(i + 2, asAt - 1)
              .map(_.setScale(scale, RoundingMode.HALF_UP))
              .filter(v => v.precision - v.scale <= prec - scale) match {
              case Some(v) =>
                val orig = sql.substring(t.start, toks(close).end)
                  .linesIterator.mkString(" ")
                patches += ((t.start, toks(close).end,
                  s"'${v.toPlainString}' AS `$orig`"))
                i = close
              case None => ()
            }
          }
        }
      } else if (isNum(t) && t.text.count(_.isDigit) > 38 &&
                 patches.forall(p => t.start >= p._2 || t.end <= p._1)) {
        // bare wide literal: fold only in a select-list position
        val prevOk = i == 0 || toks(i - 1).isWord("select") ||
          toks(i - 1).text == ","
        val nextOk = i + 1 >= toks.length || toks(i + 1).text == "," ||
          toks(i + 1).text == ";" || toks(i + 1).isWord("from") ||
          toks(i + 1).isWord("as")
        if (prevOk && nextOk) {
          val aliased =
            if (i + 1 < toks.length && toks(i + 1).isWord("as")) s"'${t.text}'"
            else s"'${t.text}' AS `${t.text}`"
          patches += ((t.start, t.end, aliased))
        }
      }
      i += 1
    }
    if (patches.isEmpty) sql else splice(sql, patches.toSeq)
  }
}
