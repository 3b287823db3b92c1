package graft.plans

/** SQL-text front door for JSON_TABLE (reference sql/plan/json_table.go
  * + planbuilder json_table parsing; corpus enginetest/queries/
  * json_table_queries.go). MySQL's JSON_TABLE is an implicitly-lateral
  * table function; Spark has no builtin, so each occurrence compiles to
  * a (LATERAL) derived table:
  *
  *   JSON_TABLE(doc, '$[*]' COLUMNS (x INT PATH '$.a', ...)) AS jt
  *     -->
  *   LATERAL (SELECT CAST(json_unquote(json_extract(__jt_r0,'$.a')) AS INT) AS x, ...
  *            FROM (SELECT json_matches(doc, '$[*]') AS __jt_a0)
  *            LATERAL VIEW posexplode(__jt_a0) __jtv0 AS __jt_o0, __jt_r0
  *            [LATERAL VIEW OUTER posexplode(<nested, empty->NULL>) ...]) AS jt
  *
  * The doc expression may reference preceding FROM items (the corpus'
  * `organizations o, JSON_TABLE(o.members, ...)` shape) — Spark resolves
  * it as a lateral correlation. Whether to emit the LATERAL keyword
  * depends on the preceding token: comma and JOIN forms take LATERAL
  * (NATURAL JOIN is rewritten to CROSS JOIN — JSON_TABLE output shares
  * no columns, so they are equivalent); a JSON_TABLE directly after FROM
  * or RIGHT JOIN stays a plain derived table (necessarily uncorrelated).
  * Everything stays one Generate chain per source row — embarrassingly
  * parallel, no shuffle, same 100 TB shape as plans.JsonTable.
  */
object JsonTableSql {
  import graft.SqlRewrite.{closingParen, splitTopLevel}

  private case class JCol(
      name: String = "",
      path: String = "",
      castType: String = "STRING",
      rawJson: Boolean = false,
      forOrdinality: Boolean = false,
      exists: Boolean = false,
      defaultOnEmpty: Option[String] = None,
      nestedPath: String = "",
      nested: Seq[JCol] = Nil)

  private val Start = """(?i)\bJSON_TABLE\s*\(""".r

  def rewrite(sql: String): String = {
    if (!sql.toUpperCase.contains("JSON_TABLE")) return sql
    Start.findFirstMatchIn(sql) match {
      case None => sql
      case Some(m) =>
        val openIdx = sql.indexOf('(', m.start)
        val close = closingParen(sql, openIdx + 1)
        if (close < 0) return sql
        val args = sql.substring(openIdx + 1, close)
        val after = sql.substring(close + 1)
        val aliasRe =
          """(?is)^\s*(?:AS\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)""".r
        val reserved = Set("where", "on", "order", "group", "join", "inner",
          "left", "right", "cross", "natural", "union", "intersect", "except",
          "limit", "having", "using", "when", "then", "else", "end", "and",
          "or", "from", "select")
        val (alias, rest) = aliasRe.findFirstMatchIn(after) match {
          case Some(am) if !reserved(strip(am.group(1)).toLowerCase) =>
            (strip(am.group(1)), after.substring(am.end))
          case _ => ("__jt", after)
        }
        val (docExpr, rootPath, cols) = parseArgs(args)
        val before0 = sql.substring(0, m.start)
        val trimmed = before0.stripTrailing()
        val endsWith = (w: String) =>
          trimmed.toUpperCase.endsWith(w.toUpperCase)
        val (before, lateral) =
          if (trimmed.endsWith(",")) (before0, true)
          else if (endsWith("NATURAL JOIN"))
            (trimmed.dropRight("NATURAL JOIN".length) + "CROSS JOIN ", true)
          else if (endsWith("RIGHT JOIN") || endsWith("RIGHT OUTER JOIN"))
            (before0, false)
          else if (endsWith("JOIN")) (before0, true)
          else (before0, false)
        val gen = generate(docExpr, rootPath, cols)
        val replaced = before + (if (lateral) "LATERAL " else "") + gen +
          s" AS `$alias` " + rest
        rewrite(replaced)
    }
  }

  // ---- parsing --------------------------------------------------------

  private def strip(s: String): String =
    s.stripPrefix("`").stripSuffix("`")

  private def stripQuote(s: String): String = {
    val t = s.trim
    if ((t.startsWith("'") && t.endsWith("'")) ||
        (t.startsWith("\"") && t.endsWith("\""))) t.substring(1, t.length - 1)
    else t
  }

  private val RootCols =
    """(?is)^\s*('[^']*'|"[^"]*")\s+COLUMNS\s*\((.*)\)\s*$""".r

  private def parseArgs(args: String): (String, String, Seq[JCol]) = {
    val parts = splitTopLevel(args).map(_.trim).filter(_.nonEmpty)
    val docExpr = parts.head
    val tail = parts.tail.mkString(", ")
    tail match {
      case RootCols(p, colsBody) =>
        (docExpr, stripQuote(p), parseCols(colsBody))
      case _ =>
        throw new IllegalArgumentException(
          s"malformed JSON_TABLE clause: $args")
    }
  }

  private val NestedRe =
    """(?is)^NESTED\s+(?:PATH\s+)?('[^']*'|"[^"]*")\s+COLUMNS\s*\((.*)\)$""".r
  private val OrdRe =
    """(?is)^(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+FOR\s+ORDINALITY$""".r
  private val ExistsRe =
    """(?is)^(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s+EXISTS\s+PATH\s+('[^']*'|"[^"]*")$""".r
  private val PathRe =
    """(?is)^(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.+?)\s+PATH\s+('[^']*'|"[^"]*")\s*(.*)$""".r
  private val DefaultRe =
    """(?is)\bDEFAULT\s+('(?:[^'\\]|\\.|'')*')\s+ON\s+EMPTY""".r

  private def parseCols(body: String): Seq[JCol] =
    splitTopLevel(body).map(_.trim).filter(_.nonEmpty).map {
      case NestedRe(p, nestedBody) =>
        JCol(nestedPath = stripQuote(p), nested = parseCols(nestedBody))
      case OrdRe(n) => JCol(name = strip(n), forOrdinality = true)
      case ExistsRe(n, _, p) =>
        JCol(name = strip(n), path = stripQuote(p), exists = true)
      case PathRe(n, tpe, p, tail) =>
        val (cast, raw) = sparkType(tpe.trim)
        JCol(name = strip(n), path = stripQuote(p), castType = cast,
          rawJson = raw,
          defaultOnEmpty =
            DefaultRe.findFirstMatchIn(tail).map(_.group(1)))
      case other =>
        throw new IllegalArgumentException(s"bad JSON_TABLE column: $other")
    }

  /** MySQL column type -> (Spark CAST target, keep-raw-json). */
  private def sparkType(t: String): (String, Boolean) = {
    val up = t.toUpperCase.replaceAll("\\s+UNSIGNED", "")
    val base = up.takeWhile(c => c.isLetter)
    base match {
      case "INT" | "INTEGER" | "MEDIUMINT" => ("INT", false)
      case "BIGINT" => ("BIGINT", false)
      case "SMALLINT" => ("SMALLINT", false)
      case "TINYINT" => ("TINYINT", false)
      case "FLOAT" => ("FLOAT", false)
      case "DOUBLE" | "REAL" => ("DOUBLE", false)
      case "DECIMAL" | "NUMERIC" | "DEC" =>
        val args = """\((\d+)(?:\s*,\s*(\d+))?\)""".r.findFirstMatchIn(up)
        args match {
          case Some(a) =>
            val p = a.group(1); val s = Option(a.group(2)).getOrElse("0")
            (s"DECIMAL($p,$s)", false)
          case None => ("DECIMAL(10,0)", false)
        }
      case "CHAR" | "VARCHAR" | "TEXT" | "TINYTEXT" | "MEDIUMTEXT" |
           "LONGTEXT" => ("STRING", false)
      case "DATE" => ("DATE", false)
      case "DATETIME" | "TIMESTAMP" => ("TIMESTAMP", false)
      case "JSON" => ("STRING", true)
      case "BOOLEAN" | "BOOL" => ("BOOLEAN", false)
      case _ => ("STRING", false)
    }
  }

  // ---- generation -----------------------------------------------------

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Walk the column tree assigning a level id to each NESTED block and
    * emitting projections in declaration order. */
  private def generate(docExpr: String, rootPath: String,
                       cols: Seq[JCol]): String = {
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    val projections = scala.collection.mutable.ArrayBuffer.empty[String]
    var nextLevel = 0

    def emit(cols: Seq[JCol], level: Int): Unit = cols.foreach { c =>
      if (c.nested.nonEmpty) {
        nextLevel += 1
        val l = nextLevel
        val arr = s"json_matches(__jt_r$level, ${sq(c.nestedPath)})"
        views += s"LATERAL VIEW OUTER posexplode(CASE WHEN size($arr) = 0 " +
          s"THEN NULL ELSE $arr END) __jtv$l AS __jt_o$l, __jt_r$l"
        emit(c.nested, l)
      } else if (c.forOrdinality) {
        projections += s"CAST(__jt_o$level + 1 AS INT) AS `${c.name}`"
      } else if (c.exists) {
        projections += s"CAST(json_contains_path(__jt_r$level, 'one', " +
          s"${sq(c.path)}) AS INT) AS `${c.name}`"
      } else {
        val extracted =
          if (c.rawJson) s"json_extract(__jt_r$level, ${sq(c.path)})"
          else s"json_unquote(json_extract(__jt_r$level, ${sq(c.path)}))"
        val withDefault = c.defaultOnEmpty match {
          case Some(d) => s"coalesce($extracted, json_unquote($d))"
          case None => extracted
        }
        projections += s"CAST($withDefault AS ${c.castType}) AS `${c.name}`"
      }
    }
    emit(cols, 0)

    s"(SELECT ${projections.mkString(", ")} " +
      s"FROM (SELECT json_matches($docExpr, ${sq(rootPath)}) AS __jt_a0) " +
      s"LATERAL VIEW posexplode(__jt_a0) __jtv0 AS __jt_o0, __jt_r0 " +
      views.mkString(" ") + ")"
  }
}
