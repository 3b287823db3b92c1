package graft.functions

import scala.util.control.NonFatal

/** MySQL catalog rendering of CHECK-constraint expressions.
  *
  * The reference prints stored check expressions fully parenthesized
  * with backticked identifiers (enginetest/queries/check_scripts.go:
  * `pk > 2 AND v < 5` → `((`pk` > 2) AND (`v` < 5))`, `NOT(pk = v)` →
  * `(NOT((`pk` = `v`)))`, `(pk + v) / 2 >= 1` → `(((`pk` + `v`) / 2)
  * >= 1)`), and information_schema.check_constraints serves the same
  * text. This is a display normalizer only — evaluation still runs the
  * original SQL text through Catalyst.
  *
  * Grammar: OR/XOR < AND < NOT < comparison/BETWEEN/IN/LIKE/IS <
  * additive < multiplicative < unary < primary. Every operator
  * application renders inside its own parentheses; NOT renders
  * function-style `(NOT(x))`; source-level grouping parens carry no
  * extra layer. A parse failure falls back to the raw source text.
  */
object CheckExprRender {

  def render(src: String): String =
    try {
      val p = new P(src)
      val out = p.orExpr()
      p.skipWs()
      if (p.eof) out else s"($src)"
    } catch { case NonFatal(_) => s"($src)" }

  /** SHOW CREATE TABLE form: CHECK (<render>) — the extra wrap is the
    * CHECK clause's own parentheses. */
  def renderForShow(src: String): String = render(src)

  private final class P(s: String) {
    var i = 0
    def eof: Boolean = i >= s.length
    def skipWs(): Unit = { while (!eof && s.charAt(i).isWhitespace) i += 1 }
    private def peekWord(): String = {
      skipWs()
      var j = i
      while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_'))
        j += 1
      s.substring(i, j)
    }
    private def eatWord(w: String): Boolean = {
      val got = peekWord()
      if (got.equalsIgnoreCase(w)) { skipWs(); i += got.length; true }
      else false
    }
    private def peek2(): String = {
      skipWs()
      s.substring(i, math.min(i + 2, s.length))
    }

    def orExpr(): String = {
      var l = andExpr()
      var go = true
      while (go) {
        if (eatWord("OR")) l = s"($l OR ${andExpr()})"
        else if (eatWord("XOR")) l = s"($l XOR ${andExpr()})"
        else go = false
      }
      l
    }

    def andExpr(): String = {
      var l = notExpr()
      while (eatWord("AND")) l = s"($l AND ${notExpr()})"
      l
    }

    def notExpr(): String =
      if (eatWord("NOT")) s"(NOT(${notExpr()}))" else predicate()

    def predicate(): String = {
      val l = additive()
      val two = peek2()
      val cmp =
        if (two == "<=" && i + 2 < s.length && s.charAt(i + 2) == '>') { i += 3; "<=>" }
        else if (two == "<=" || two == ">=" || two == "<>" || two == "!=") { i += 2; two }
        else if (two.nonEmpty && (two.charAt(0) == '<' || two.charAt(0) == '>' ||
                 two.charAt(0) == '=')) { i += 1; two.take(1) }
        else null
      if (cmp == "!=" || cmp == "<>")
        // MySQL's catalog normalizes inequality to NOT(=)
        // (check_scripts.go check7: `pk != v` → `(NOT((`pk` = `v`)))`)
        return s"(NOT(($l = ${additive()})))"
      if (cmp != null) return s"($l $cmp ${additive()})"
      val neg = eatWord("NOT")
      if (eatWord("BETWEEN")) {
        val lo = additive()
        if (!eatWord("AND")) throw new IllegalArgumentException("BETWEEN")
        val hi = additive()
        val kw = if (neg) "NOT BETWEEN" else "BETWEEN"
        return s"($l $kw $lo AND $hi)"
      }
      if (eatWord("IN")) {
        skipWs()
        if (eof || s.charAt(i) != '(') throw new IllegalArgumentException("IN")
        i += 1
        val items = scala.collection.mutable.ArrayBuffer.empty[String]
        items += orExpr()
        skipWs()
        while (!eof && s.charAt(i) == ',') { i += 1; items += orExpr(); skipWs() }
        if (eof || s.charAt(i) != ')') throw new IllegalArgumentException("IN)")
        i += 1
        val kw = if (neg) "NOT IN" else "IN"
        return s"($l $kw (${items.mkString(", ")}))"
      }
      if (eatWord("LIKE")) {
        // dolt's LIKE does not self-parenthesize (script_queries.go
        // "Show create table with various keys": CHECK (`b` LIKE '%abc%'))
        val kw = if (neg) "NOT LIKE" else "LIKE"
        return s"$l $kw ${additive()}"
      }
      if (neg) throw new IllegalArgumentException("dangling NOT")
      if (eatWord("IS")) {
        val n2 = eatWord("NOT")
        if (!eatWord("NULL")) throw new IllegalArgumentException("IS")
        return if (n2) s"($l IS NOT NULL)" else s"($l IS NULL)"
      }
      l
    }

    def additive(): String = {
      var l = multiplicative()
      var go = true
      while (go) {
        skipWs()
        if (!eof && s.charAt(i) == '+') { i += 1; l = s"($l + ${multiplicative()})" }
        else if (!eof && s.charAt(i) == '-') { i += 1; l = s"($l - ${multiplicative()})" }
        else go = false
      }
      l
    }

    def multiplicative(): String = {
      var l = unary()
      var go = true
      while (go) {
        skipWs()
        if (!eof && s.charAt(i) == '*') { i += 1; l = s"($l * ${unary()})" }
        else if (!eof && s.charAt(i) == '/') { i += 1; l = s"($l / ${unary()})" }
        else if (!eof && s.charAt(i) == '%') { i += 1; l = s"($l % ${unary()})" }
        else if (eatWord("DIV")) l = s"($l DIV ${unary()})"
        else if (eatWord("MOD")) l = s"($l MOD ${unary()})"
        else go = false
      }
      l
    }

    def unary(): String = {
      skipWs()
      if (!eof && s.charAt(i) == '-') { i += 1; s"(-${unary()})" }
      else if (!eof && s.charAt(i) == '+') { i += 1; unary() }
      else primary()
    }

    def primary(): String = {
      skipWs()
      if (eof) throw new IllegalArgumentException("eof")
      val c = s.charAt(i)
      if (c == '(') {
        i += 1
        val inner = orExpr()
        skipWs()
        if (eof || s.charAt(i) != ')') throw new IllegalArgumentException(")")
        i += 1
        inner // grouping parens add no extra layer
      } else if (c == '\'') {
        val start = i
        i = graft.SqlRewrite.literalEnd(s, i)
        s.substring(start, i)
      } else if (c == '`') {
        val start = i + 1; i += 1
        while (i < s.length && s.charAt(i) != '`') i += 1
        val name = s.substring(start, i)
        i = math.min(i + 1, s.length)
        s"`$name`"
      } else if (c.isDigit ||
                 (c == '.' && i + 1 < s.length && s.charAt(i + 1).isDigit)) {
        val start = i
        while (i < s.length && (s.charAt(i).isDigit || s.charAt(i) == '.')) i += 1
        s.substring(start, i)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_'))
          i += 1
        val word = s.substring(start, i)
        skipWs()
        if (!eof && s.charAt(i) == '(') {
          // function call: name kept as written, args render recursively
          i += 1
          skipWs()
          val args = scala.collection.mutable.ArrayBuffer.empty[String]
          if (!eof && s.charAt(i) != ')') {
            args += orExpr()
            skipWs()
            while (!eof && s.charAt(i) == ',') { i += 1; args += orExpr(); skipWs() }
          }
          if (eof || s.charAt(i) != ')') throw new IllegalArgumentException("fn)")
          i += 1
          // the catalog prints canonical function names (pow → power)
          val canon = word.toLowerCase match {
            case "pow" => "power"
            case _ => word
          }
          s"$canon(${args.mkString(", ")})"
        } else word.toUpperCase match {
          case "NULL" => "NULL"
          case "TRUE" => "TRUE"
          case "FALSE" => "FALSE"
          case _ => s"`$word`"
        }
      } else throw new IllegalArgumentException(s"unexpected '$c'")
    }
  }
}
