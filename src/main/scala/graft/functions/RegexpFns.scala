package graft.functions

import java.util.regex.{Matcher, Pattern, PatternSyntaxException}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** MySQL-signature regexp functions (reference
  * sql/expression/function/regexp.go and enginetest/queries/
  * regex_queries.go): REGEXP_LIKE / REGEXP_INSTR / REGEXP_SUBSTR /
  * REGEXP_REPLACE with the full `[, pos[, occurrence[, return_option]
  * [, match_type]]]` argument surface Spark's builtins lack.
  *
  * Semantics pinned by the reference corpus:
  *  - default matching is case-SENSITIVE; a case-insensitive collation
  *    on either string argument flips the default (regex_queries.go:64
  *    COLLATE utf8mb4_0900_ai_ci => insensitive);
  *  - match_type applies left to right and the LAST of 'c'/'i' wins
  *    ('ci' => insensitive, 'ic' => sensitive; regex_queries.go:52-58);
  *  - REGEXP_INSTR return_option 1 reports the position AFTER the match
  *    (regex_queries.go:2144); occurrence below 1 behaves as 1
  *    (regex_queries.go:2140).
  *
  * Per-row evaluation compiles the pattern once per distinct
  * (pattern, flags) pair via a small per-expression cache, so constant
  * patterns — the overwhelmingly common shape — compile exactly once
  * per task.
  */
object RegexpFns {

  /** MySQL error 3692 shape for a bad match_type flag. */
  private def badFlag(c: Char): Nothing =
    throw new IllegalArgumentException(
      s"Incorrect arguments to regexp_like: unknown match_type flag '$c' (MySQL 3692)")

  private def ciCollation(dt: DataType): Boolean = dt match {
    case st: StringType =>
      val name =
        try org.apache.spark.sql.catalyst.util.CollationFactory
          .fetchCollation(st.collationId).collationName.toUpperCase
        catch { case NonFatal(_) => "UTF8_BINARY" }
      name.contains("_CI") || name.contains("LCASE")
    case _ => false
  }

  /** Java Pattern flags from a MySQL match_type string. */
  private def javaFlags(matchType: String, defaultCi: Boolean): Int = {
    var ci = defaultCi
    var flags = 0
    matchType.foreach {
      case 'c' => ci = false
      case 'i' => ci = true
      case 'm' => flags |= Pattern.MULTILINE
      case 'n' => flags |= Pattern.DOTALL
      case 'u' => flags |= Pattern.UNIX_LINES
      case c => badFlag(c)
    }
    if (ci) flags | Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE else flags
  }

  /** Shared eval plumbing: string/int argument decoding plus a tiny
    * compiled-pattern cache (keyed on pattern+flags; capacity 16 —
    * constant patterns hit entry 0 forever). */
  final class PatternCache {
    private val cache =
      new java.util.LinkedHashMap[(String, Int), Pattern](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int), Pattern]): Boolean = size > 16
      }
    def get(pat: String, flags: Int): Pattern = {
      val k = (pat, flags)
      val hit = cache.get(k)
      if (hit != null) hit
      else {
        val p =
          try Pattern.compile(pat, flags)
          catch {
            case e: PatternSyntaxException =>
              throw new IllegalArgumentException(
                s"Invalid regular expression (MySQL 3688): ${e.getMessage}")
          }
        cache.put(k, p); p
      }
    }
  }

  private def str(v: Any): String = v match {
    case null => null
    case s: UTF8String => s.toString
    case other => other.toString
  }
  private def int(v: Any): Int = v match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case d: java.math.BigDecimal => d.intValue
    case d: Decimal => d.toInt
    case d: Double => d.toInt
    case f: Float => f.toInt
    case s: UTF8String => s.toString.trim.toDouble.toInt
    case other => other.toString.toInt
  }

  sealed abstract class RegexpBase extends Expression with CodegenFallback {
    override def nullable: Boolean = true
    @transient protected lazy val patterns = new PatternCache
    /** CI default from the declared collation of the subject/pattern. */
    protected lazy val defaultCi: Boolean =
      children.take(2).exists(c => ciCollation(c.dataType))
    protected def compiled(pat: String, matchType: String): Pattern =
      patterns.get(pat, javaFlags(if (matchType == null) "" else matchType, defaultCi))
    /** Find the n-th match at/after 1-based char position pos; null when
      * absent. Occurrences below 1 behave as 1 (reference corpus). */
    protected def findNth(m: Matcher, subject: String, pos: Int, occ: Int): Boolean = {
      val start = math.max(0, math.min(pos - 1, subject.length))
      if (pos > subject.length + 1) return false
      var remaining = math.max(1, occ)
      var found = m.find(start)
      while (found && remaining > 1) { remaining -= 1; found = m.find() }
      found
    }
  }

  /** REGEXP_LIKE(expr, pat[, match_type]) -> 1/0 (regexp.go). */
  case class RegexpLikeMy(children: Seq[Expression]) extends RegexpBase {
    require(children.length >= 2 && children.length <= 3,
      "REGEXP_LIKE expects 2 or 3 arguments")
    override def dataType: DataType = IntegerType
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val subject = str(vs(0)); val pat = str(vs(1))
      val mt = if (vs.length > 2) str(vs(2)) else null
      if (compiled(pat, mt).matcher(subject).find()) 1 else 0
    }
    override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
      copy(children = nc)
  }

  /** REGEXP_INSTR(expr, pat[, pos[, occurrence[, return_option[, match_type]]]]). */
  case class RegexpInstrMy(children: Seq[Expression]) extends RegexpBase {
    require(children.length >= 2 && children.length <= 6,
      "REGEXP_INSTR expects 2 to 6 arguments")
    override def dataType: DataType = IntegerType
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val subject = str(vs(0)); val pat = str(vs(1))
      val pos = if (vs.length > 2) int(vs(2)) else 1
      val occ = if (vs.length > 3) int(vs(3)) else 1
      val retOpt = if (vs.length > 4) int(vs(4)) else 0
      val mt = if (vs.length > 5) str(vs(5)) else null
      val m = compiled(pat, mt).matcher(subject)
      if (!findNth(m, subject, pos, occ)) 0
      else if (retOpt == 0) m.start + 1
      else m.end + 1
    }
    override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
      copy(children = nc)
  }

  /** REGEXP_SUBSTR(expr, pat[, pos[, occurrence[, match_type]]]). */
  case class RegexpSubstrMy(children: Seq[Expression]) extends RegexpBase {
    require(children.length >= 2 && children.length <= 5,
      "REGEXP_SUBSTR expects 2 to 5 arguments")
    override def dataType: DataType = StringType
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val subject = str(vs(0)); val pat = str(vs(1))
      val pos = if (vs.length > 2) int(vs(2)) else 1
      val occ = if (vs.length > 3) int(vs(3)) else 1
      val mt = if (vs.length > 4) str(vs(4)) else null
      val m = compiled(pat, mt).matcher(subject)
      if (!findNth(m, subject, pos, occ)) null
      else UTF8String.fromString(m.group())
    }
    override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
      copy(children = nc)
  }

  /** REGEXP_REPLACE(expr, pat, repl[, pos[, occurrence[, match_type]]]).
    * occurrence 0 (the default) replaces every match at/after pos; the
    * prefix before pos is preserved verbatim (regexp.go). */
  case class RegexpReplaceMy(children: Seq[Expression]) extends RegexpBase {
    require(children.length >= 3 && children.length <= 6,
      "REGEXP_REPLACE expects 3 to 6 arguments")
    override def dataType: DataType = StringType
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val subject = str(vs(0)); val pat = str(vs(1)); val repl = str(vs(2))
      val pos = if (vs.length > 3) int(vs(3)) else 1
      val occ = if (vs.length > 4) int(vs(4)) else 0
      val mt = if (vs.length > 5) str(vs(5)) else null
      val start = math.max(0, math.min(pos - 1, subject.length))
      val prefix = subject.substring(0, start)
      val region = subject.substring(start)
      val m = compiled(pat, mt).matcher(region)
      val sb = new java.lang.StringBuilder(prefix)
      if (occ <= 0) {
        val tail = new java.lang.StringBuffer
        while (m.find()) m.appendReplacement(tail, Matcher.quoteReplacement(repl))
        m.appendTail(tail)
        sb.append(tail)
      } else {
        var n = occ
        var found = m.find()
        while (found && n > 1) { n -= 1; found = m.find() }
        if (!found) sb.append(region)
        else sb.append(region.substring(0, m.start))
          .append(repl)
          .append(region.substring(m.end))
      }
      UTF8String.fromString(sb.toString)
    }
    override protected def withNewChildrenInternal(nc: IndexedSeq[Expression]) =
      copy(children = nc)
  }

  type B = Seq[Expression] => Expression

  /** (name, builder) pairs; 2-/3-arg forms keep Spark-compatible
    * semantics so existing callers see identical results, while the
    * extended MySQL argument surface becomes available from SQL text. */
  def builders: Seq[(String, B)] = Seq(
    "regexp_like" -> (es => RegexpLikeMy(es)),
    "regexp_instr" -> (es => RegexpInstrMy(es)),
    "regexp_substr" -> (es => RegexpSubstrMy(es)),
    "regexp_replace" -> (es => RegexpReplaceMy(es)))

  def register(spark: SparkSession): Unit = {
    val reg = org.apache.spark.sql.GraftBridge.functionRegistry(spark)
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, es => b(es), "scala_udf")
    }
  }
}
