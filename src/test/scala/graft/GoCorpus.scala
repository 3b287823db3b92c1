package graft

/** Minimal reader for the reference's enginetest ScriptTest literals.
  *
  * Parses `var X = []ScriptTest{...}` blocks straight from the Go source
  * AT TEST TIME — queries and expected rows are consumed as data, never
  * copied into this repo. Handles the subset the corpora actually use:
  * double-quoted + backtick strings, line comments, nil, ints, floats,
  * int64/uint64/float64/int32 wrappers, []byte("..."), and OkResult
  * markers (write statements execute without row comparison).
  *
  * The reference tree is not on every machine. Suites that read it
  * check [[present]] before parsing and, where a file is absent,
  * register tests that cancel through [[assumePresent]] naming it.
  */
object GoCorpus {

  /** True when every one of `paths` is a readable file. */
  def present(paths: String*): Boolean = paths.forall { p =>
    val f = java.nio.file.Paths.get(p)
    java.nio.file.Files.isRegularFile(f) && java.nio.file.Files.isReadable(f)
  }

  /** Cancels the running test, naming the first of `paths` that is not
    * [[present]]; a no-op when all are. The report points at the
    * calling test. */
  def assumePresent(paths: String*)(
      implicit pos: org.scalactic.source.Position): Unit =
    for (p <- paths)
      org.scalatest.Assertions.assume(present(p),
        s"reference corpus file absent: $p")

  /** Name of the one test a suite registers per var or file in place
    * of its corpus when the corpus file is absent. */
  def absentLabel(name: String): String = s"$name [reference tree absent]"

  /** A single Query/Expected assertion. `expected` is None for write
    * results (OkResult/UpdateResult) — execute-only. */
  final case class Assert(query: String, expected: Option[Seq[Seq[Any]]],
                          skip: Boolean, expectErr: Boolean)

  final case class Script(name: String, setup: Seq[String],
                          asserts: Seq[Assert], skip: Boolean = false)

  private final class Cursor(val s: String, var i: Int) {
    def eof: Boolean = i >= s.length
    def ch: Char = s.charAt(i)
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && !eof) {
        if (ch.isWhitespace) i += 1
        else if (ch == '/' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          while (!eof && ch != '\n') i += 1
        } else go = false
      }
    }
    /** Reads a Go string literal (double-quoted or backtick) at the
      * cursor and returns its unescaped value. */
    def readString(): String = {
      skipWsAndComments()
      val q = ch
      require(q == '"' || q == '`', s"expected string at $i, got '$q'")
      i += 1
      val sb = new StringBuilder
      if (q == '`') {
        while (ch != '`') { sb.append(ch); i += 1 }
        i += 1
      } else {
        while (ch != '"') {
          if (ch == '\\') {
            i += 1
            ch match {
              case 'x' if i + 2 < s.length => // \xNN hex byte escape
                sb.append(Integer.parseInt(
                  s.substring(i + 1, i + 3), 16).toChar)
                i += 2
              case 'u' if i + 4 < s.length => // \uNNNN unicode escape
                sb.append(Integer.parseInt(
                  s.substring(i + 1, i + 5), 16).toChar)
                i += 4
              case c0 => sb.append(c0 match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case 'v' => '\u000b'; case 'f' => '\f'; case 'a' => '\u0007'
                case 'b' => '\b'; case '0' => '\u0000'
                case '\\' => '\\'; case '"' => '"'; case '\'' => '\''
                case o => o
              })
            }
          } else sb.append(ch)
          i += 1
        }
        i += 1
      }
      sb.toString
    }
    /** Reads one balanced {...} group starting at '{'; returns the inner
      * text (quotes/comments respected). */
    def readBraceGroup(): String = {
      skipWsAndComments()
      require(ch == '{', s"expected '{' at $i, got '$ch'")
      val start = i + 1
      var depth = 0
      while (true) {
        if (ch == '"' || ch == '`') { readString(); }
        else if (ch == '/' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          while (!eof && ch != '\n') i += 1
        } else {
          if (ch == '{') depth += 1
          else if (ch == '}') {
            depth -= 1
            if (depth == 0) { i += 1; return s.substring(start, i - 1) }
          }
          i += 1
        }
      }
      "" // unreachable
    }
  }

  /** Splits `body` on top-level commas (brace/paren/bracket + string
    * aware). */
  private def splitTopLevel(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      c match {
        case '"' | '`' =>
          val cr = new Cursor(body, i)
          val raw = {
            val start = i
            cr.readString()
            body.substring(start, cr.i)
          }
          cur.append(raw); i = cr.i - 1
        case '/' if i + 1 < body.length && body.charAt(i + 1) == '/' =>
          while (i < body.length && body.charAt(i) != '\n') i += 1
          i -= 1
        case '{' | '(' | '[' => depth += 1; cur.append(c)
        case '}' | ')' | ']' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** A Go expression the parser can't evaluate (struct literal, helper
    * call). Runners compare it as its source text — or skip the entry
    * when they can detect it up front. */
  final case class Opaque(src: String)

  private val goMonths = Map(
    "time.January" -> 1, "time.February" -> 2, "time.March" -> 3,
    "time.April" -> 4, "time.May" -> 5, "time.June" -> 6,
    "time.July" -> 7, "time.August" -> 8, "time.September" -> 9,
    "time.October" -> 10, "time.November" -> 11, "time.December" -> 12)

  /** Named time.Time vars some corpora share in expectations
    * (update_queries.go:1032-1035). */
  private val namedTimes: Map[String, Any] = Map(
    "ZeroTime" -> "0000-00-00 00:00:00",
    "Jan1Noon" -> java.time.LocalDateTime.of(2000, 1, 1, 12, 0, 0),
    "Dec15_1_30" -> java.time.LocalDateTime.of(2023, 12, 15, 1, 30, 0),
    "Oct2Midnight" -> java.time.LocalDateTime.of(2020, 10, 2, 0, 0, 0))

  /** `time.Date(y, m, d, h, mi, s, ns, time.UTC)` → LocalDateTime (MySQL
    * zero dates map to the zero-date display string). */
  private def goTimeDate(tok: String): Any = {
    val args = splitTopLevel(
      tok.substring(tok.indexOf('(') + 1, tok.lastIndexOf(')')))
      .map(_.trim)
    val y = args(0).toInt
    val mo = goMonths.getOrElse(args(1), args(1).toIntOption.getOrElse(0))
    val d = args(2).toInt
    if (y == 0 && mo == 0 && d == 0) "0000-00-00 00:00:00"
    else {
      val ns = args(6).toLong
      java.time.LocalDateTime.of(y, mo, d, args(3).toInt, args(4).toInt,
        args(5).toInt, ns.toInt)
    }
  }

  /** One Go row value → comparable Scala value (numbers as BigDecimal). */
  def goValue(tok0: String): Any = {
    val tok = tok0.trim
    def inner(prefix: String): String =
      tok.stripPrefix(prefix).stripPrefix("(").stripSuffix(")")
    tok match {
      case "nil" => null
      case "true" => true
      case "false" => false
      case t if t.startsWith("\"") || t.startsWith("`") =>
        // Go string concatenation: "a" + "b" + `c` (multi-line SHOW
        // CREATE TABLE expectations are written this way)
        val c = new Cursor(t, 0)
        val sb = new StringBuilder(c.readString())
        var more = true
        while (more) {
          c.skipWsAndComments()
          if (!c.eof && c.ch == '+') {
            c.i += 1
            sb.append(c.readString())
          } else more = false
        }
        sb.toString
      case t if t.matches("-?\\d+") => BigDecimal(t)
      // Go float literals: optional fraction and exponent (e+07 / E-2)
      case t if t.matches("-?\\d*\\.\\d+([eE][+-]?\\d+)?") => BigDecimal(t)
      case t if t.matches("-?\\d+(\\.\\d*)?[eE][+-]?\\d+") => BigDecimal(t)
      case t if t.startsWith("float32(") =>
        // emulate Go's float32 conversion: the shortest-round-trip
        // display of the 32-bit value is what the engine returns
        // (5.932887e+07 → 5.9328872E7f)
        goValue(tok.substring(tok.indexOf('(') + 1, tok.length - 1)) match {
          case b: BigDecimal => b.toFloat
          case o => o
        }
      case t if t.startsWith("int64(") || t.startsWith("int32(") ||
          t.startsWith("int8(") || t.startsWith("int16(") ||
          t.startsWith("uint64(") || t.startsWith("uint32(") ||
          t.startsWith("uint8(") || t.startsWith("uint16(") ||
          t.startsWith("float64(") =>
        goValue(tok.substring(tok.indexOf('(') + 1, tok.length - 1))
      case t if t.startsWith("[]byte(") || t.startsWith("[]uint8(") ||
          t.startsWith("types.MustJSON(") =>
        goValue(tok.substring(tok.indexOf('(') + 1, tok.length - 1))
      case t if (t.startsWith("[]byte{") || t.startsWith("[]uint8{")) &&
          t.endsWith("}") =>
        // byte-slice literal: []byte{0xde, 0xad} → the raw bytes
        val body = t.substring(t.indexOf('{') + 1, t.length - 1).trim
        if (body.isEmpty) Array.empty[Byte]
        else body.split(",").map { b =>
          val s = b.trim
          (if (s.startsWith("0x") || s.startsWith("0X"))
             Integer.parseInt(s.substring(2), 16)
           else s.toInt).toByte
        }
      case t if t.startsWith("time.Date(") => goTimeDate(t)
      case t if t.startsWith("time.Unix(") =>
        // time.Unix(sec, nsec)[.Add(time.Hour * n)][.In(time.UTC)]
        ("""time\.Unix\((\d+),\s*(\d+)\)""" +
          """(?:\.Add\(time\.Hour\s*\*\s*(-?\d+)\))?""").r
          .findFirstMatchIn(t) match {
          case Some(m) =>
            java.time.Instant.ofEpochSecond(m.group(1).toLong +
              Option(m.group(3)).map(_.toLong).getOrElse(0L) * 3600L,
              m.group(2).toLong)
          case None => Opaque(t)
        }
      case t if t.startsWith("types.JSONDocument{") =>
        // types.JSONDocument{Val: <go value>} renders as the MARSHALED
        // JSON fragment (a string Val "abc" displays as "abc" with
        // quotes), matching the engine's fragment output
        val m = """(?s)Val:\s*(".*")\s*,?\s*}$""".r.findFirstMatchIn(t)
        m.map { mm =>
          goValue(mm.group(1)) match {
            case s: String =>
              "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
            case o => o
          }
        }.orElse {
          // empty container literals: Val: map[string]interface{}{} /
          // []interface{}{} render as the empty document
          if ("""(?s)Val:\s*map\[string\]interface\{\}\{\s*\}\s*,?\s*}$""".r
              .findFirstIn(t).isDefined) Some("{}")
          else if ("""(?s)Val:\s*\[\]interface\{\}\{\s*\}\s*,?\s*}$""".r
              .findFirstIn(t).isDefined) Some("[]")
          else None
        }.getOrElse(Opaque(t))
      case t if namedTimes.contains(t) => namedTimes(t)
      case t if t.matches("[A-Za-z_][A-Za-z0-9_]*") =>
        t // bare identifier: compared as text (rare)
      case t => Opaque(t) // struct literal / helper call
    }
  }

  private def isWriteResult(rowsBody: String): Boolean =
    rowsBody.contains("OkResult") || rowsBody.contains("UpdateResult")

  /** Parses `Expected: []sql.Row{...}`'s inner body into rows; None for
    * write-result markers. */
  def parseRows(body: String): Option[Seq[Seq[Any]]] = {
    if (isWriteResult(body)) return None
    val rows = splitTopLevel(body).map(_.trim).filter(_.nonEmpty).map { r =>
      val t = r.stripPrefix("sql.Row").trim
      require(t.startsWith("{") && t.endsWith("}"), s"bad row literal: $r")
      splitTopLevel(t.substring(1, t.length - 1)).map(_.trim)
        .filter(_.nonEmpty).map(goValue)
    }
    Some(rows)
  }

  /** The SQL of `var X = []SetupScript{{...}}` at `path` — the
    * reference's scriptgen/setup fixture blocks, consumed as data. */
  def setupScripts(path: String, varName: String): Seq[String] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = src.indexOf(s"var $varName = ")
    require(start >= 0, s"$varName not found in $path")
    val cur = new Cursor(src, src.indexOf('{', start))
    val body = cur.readBraceGroup() // outer [][]SetupScript literal
    splitTopLevel(body).map(_.trim).filter(_.nonEmpty).flatMap { group =>
      val inner = group.stripPrefix("{").stripSuffix("}")
      splitTopLevel(inner).map(_.trim).filter(_.nonEmpty)
        .map(s => goValue(s).toString)
    }
  }

  /** All QueryTest entries of `varName` at `path` as Asserts. Entries
    * with `Bindings:` (prepared-statement placeholders) are marked
    * skip — the mechanical runner has no binding context. */
  def queryTests(path: String, varName: String): Seq[Assert] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = src.indexOf(s"var $varName = ")
    require(start >= 0, s"$varName not found in $path")
    val cur = new Cursor(src, src.indexOf('{', start))
    val body = cur.readBraceGroup()
    splitTopLevel(body).map(_.trim).filter(_.nonEmpty).map { entry =>
      val b = entry.stripPrefix("{").stripSuffix("}")
      // entries the literal parser can't read (Query built from a Go
      // var / Sprintf) skip rather than abort the whole corpus
      val a = scala.util.Try(parseAssert(entry))
        .getOrElse(Assert("", None, skip = true, expectErr = false))
      if (a.query.isEmpty || field(b, "Bindings").nonEmpty)
        a.copy(skip = true)
      else a
    }
  }

  /** All ScriptTest entries of `varName` in the Go source at `path`. */
  def scripts(path: String, varName: String): Seq[Script] = {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = src.indexOf(s"var $varName = ")
    require(start >= 0, s"$varName not found in $path")
    val cur = new Cursor(src, src.indexOf('{', start))
    val body = cur.readBraceGroup()
    splitTopLevel(body).map(_.trim).filter(_.nonEmpty).map { entry =>
      val t = entry.stripPrefix("{").stripSuffix("}")
      parseScript(t)
    }
  }

  private def field(body: String, name: String): Option[Int] = {
    // top-level field occurrence (depth 0, not inside a string)
    var depth = 0; var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      c match {
        case '"' | '`' =>
          val cr = new Cursor(body, i); cr.readString(); i = cr.i - 1
        case '/' if i + 1 < body.length && body.charAt(i + 1) == '/' =>
          while (i < body.length && body.charAt(i) != '\n') i += 1
        case '{' | '(' | '[' => depth += 1
        case '}' | ')' | ']' => depth -= 1
        case _ if depth == 0 && body.startsWith(name + ":", i) &&
            (i == 0 || !body.charAt(i - 1).isLetterOrDigit) =>
          return Some(i)
        case _ =>
      }
      i += 1
    }
    None
  }

  private def parseScript(body: String): Script = {
    val name = field(body, "Name").map { at =>
      new Cursor(body, at + "Name:".length).readString()
    }.getOrElse("unnamed")
    val setup = field(body, "SetUpScript").map { at =>
      val c = new Cursor(body, body.indexOf('{', at))
      splitTopLevel(c.readBraceGroup()).map(_.trim).filter(_.nonEmpty)
        .map(s => goValue(s).toString) // handles "a" + "b" concatenation
    }.getOrElse(Seq.empty)
    val asserts = field(body, "Assertions").map { at =>
      val c = new Cursor(body, body.indexOf('{', at))
      splitTopLevel(c.readBraceGroup()).map(_.trim).filter(_.nonEmpty)
        .map(parseAssert)
    }.getOrElse(Seq.empty)
    // block-level Skip: the reference's own suite skips the whole script
    val skip = field(body, "Skip").exists { at =>
      body.substring(at + "Skip:".length).trim.startsWith("true")
    }
    Script(name, setup, asserts, skip)
  }

  private def parseAssert(entry: String): Assert = {
    val body = entry.stripPrefix("{").stripSuffix("}")
    val query = field(body, "Query").map { at =>
      // concat-aware: Query strings are sometimes built with "+"
      val c = new Cursor(body, at + "Query:".length)
      val sb = new StringBuilder(c.readString())
      var more = true
      while (more) {
        c.skipWsAndComments()
        if (!c.eof && c.ch == '+') { c.i += 1; sb.append(c.readString()) }
        else more = false
      }
      sb.toString
    }.getOrElse("")
    val skip = field(body, "Skip").exists { at =>
      body.substring(at + "Skip:".length).trim.startsWith("true")
    } || field(body, "Bindings").nonEmpty // prepared-stmt placeholders
    val expectErr = field(body, "ExpectedErr").nonEmpty ||
      field(body, "ExpectedErrStr").nonEmpty
    // SkipResultsCheck: execute the statement but compare nothing
    // (dynamic values — @@version, timestamps)
    val skipResults = field(body, "SkipResultsCheck").exists { at =>
      body.substring(at + "SkipResultsCheck:".length).trim
        .startsWith("true")
    }
    val expected =
      if (expectErr || skipResults) None
      else field(body, "Expected").flatMap { at =>
        val open = body.indexOf('{', at)
        if (open < 0) None // `Expected: nil` / named-var expectation
        else scala.util.Try {
          val c = new Cursor(body, open)
          parseRows(c.readBraceGroup())
        }.toOption.flatten
      }
    Assert(query, expected, skip, expectErr)
  }
}
