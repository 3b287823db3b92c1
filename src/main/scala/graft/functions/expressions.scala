package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for MySQL functions Spark lacks —
  * SURVEY.md §2.8 "custom expressions" bucket (reference impls under
  * sql/expression/function/: field FIELD(), insert INSERT(), export_set,
  * inet_aton/inet_ntoa in registry.go; rolling-hash fingerprinting is the
  * north-star text-analysis extension).
  *
  * These are interpreted (`CodegenFallback`) — they sit in projection
  * position on dimension-sized data, not in hot scan loops; promote to
  * `doGenCode` if a profile ever shows them on the critical path.
  */
object expressions {

  /** LOG10(x) with the reference's exact float result: Go's math.Log10
    * (sql/expression/function/logarithm.go:254 -> go math stdlib) is an
    * FDLIBM port, which java.lang.StrictMath.log reproduces bit-for-bit;
    * scaling by the correctly-rounded 1/ln(10) matches the corpus points
    * where the JVM's intrinsic Math.log10 is 1 ulp off. x <= 0 -> NULL
    * (computeLog, logarithm.go:242). */
  case class GoLog10(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val x = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case b: Boolean => if (b) 1.0 else 0.0
        case n: Number => n.doubleValue()
        case u: UTF8String =>
          try u.toString.trim.toDouble catch { case _: NumberFormatException => return null }
      }
      if (x <= 0) null
      else java.lang.StrictMath.log(x) * 0.4342944819032518
    }
    override def prettyName: String = "log10"
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  /** SLEEP(n) — blocks the evaluating task for n seconds and returns 0
    * (reference sql/expression/function/sleep.go). Nondeterministic so
    * the analyzer never constant-folds the pause away, and so sibling
    * projections evaluate in statement order around it. */
  case class MySqlSleep(child: Expression)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Nondeterministic
      with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override protected def initializeInternal(partitionIndex: Int): Unit = ()
    override protected def evalInternal(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v != null) {
        val secs = MySqlArith.toDoubleVal(v, child.dataType)
        if (secs > 0) Thread.sleep((secs * 1000).toLong)
      }
      0
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** SYSDATE() — wall-clock at each EVALUATION, unlike NOW() which is
    * fixed at statement start (reference function/now.go SysDate).
    * Nondeterministic keeps it out of constant folding. */
  case class SysDate()
      extends org.apache.spark.sql.catalyst.expressions.LeafExpression
      with org.apache.spark.sql.catalyst.expressions.Nondeterministic
      with CodegenFallback {
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = false
    override protected def initializeInternal(partitionIndex: Int): Unit = ()
    override protected def evalInternal(input: InternalRow): Any =
      System.currentTimeMillis() * 1000L
  }

  /** A binary value written into a CHARACTER column must be valid
    * utf8mb4 (reference types/strings.go ConvertToBytes): strict mode
    * raises 1366 "Incorrect string value" with MySQL's byte rendering;
    * non-strict/IGNORE truncates at the first invalid byte. */
  case class Utf8BinToStr(child: Expression, col: String, strict: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    private def validPrefixLen(b: Array[Byte]): Int = {
      var i = 0
      while (i < b.length) {
        val x = b(i) & 0xff
        val n =
          if (x < 0x80) 1
          else if ((x & 0xe0) == 0xc0) 2
          else if ((x & 0xf0) == 0xe0) 3
          else if ((x & 0xf8) == 0xf0) 4
          else return i
        if (i + n > b.length) return i
        var cp = x & (if (n == 1) 0x7f else if (n == 2) 0x1f
                      else if (n == 3) 0x0f else 0x07)
        var j = 1
        while (j < n) {
          if ((b(i + j) & 0xc0) != 0x80) return i
          cp = (cp << 6) | (b(i + j) & 0x3f)
          j += 1
        }
        // utf8mb4 rejects overlong encodings (C0 80, E0 80 80,
        // F0 80 80 80), CESU-8 surrogates (ED A0 80 … ED BF BF) and
        // code points past U+10FFFF (F4 90 80 80) — script_queries.go
        // "charset validation edge cases"
        if ((n == 2 && cp < 0x80) || (n == 3 && cp < 0x800) ||
            (n == 4 && (cp < 0x10000 || cp > 0x10ffff)) ||
            (cp >= 0xd800 && cp <= 0xdfff)) return i
        i += n
      }
      b.length
    }
    private def fmt(b: Array[Byte], from: Int): String = {
      val sb = new StringBuilder
      var i = from
      while (i < b.length && i < from + 6) {
        val x = b(i) & 0xff
        if (x >= 0x20 && x < 0x7f) sb.append(x.toChar)
        else sb.append(f"\\x$x%02X")
        i += 1
      }
      if (b.length > from + 6) sb.append("...")
      sb.result()
    }
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      val ok = validPrefixLen(b)
      if (ok == b.length) UTF8String.fromBytes(b)
      else if (strict)
        throw new IllegalArgumentException(
          s"Incorrect string value: '${fmt(b, ok)}' for column '$col' " +
          "at row 1 (MySQL error 1366)")
      else UTF8String.fromBytes(java.util.Arrays.copyOf(b, ok))
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  /** UNIX_TIMESTAMP(x) with MySQL result typing (reference
    * function/unixtimestamp.go): DATETIME/varchar inputs interpret in
    * the SESSION time zone; a string input yields DECIMAL — scale = the
    * literal's fraction digits, 6 for column strings; temporal inputs
    * yield integers; pre-epoch/invalid read 0/NULL. */
  case class MySqlUnixTimestamp(child: Expression,
                                fracScale: Option[Int] = None)
      extends UnaryExpression with CodegenFallback {
    private lazy val litFracScale: Option[Int] = child match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          s: UTF8String, _: StringType) =>
        val str = s.toString
        val i = str.lastIndexOf('.')
        if (i > 0 && i < str.length - 1 && str.drop(i + 1).forall(_.isDigit))
          Some(math.min(6, str.length - i - 1))
        else Some(0)
      case _ => None
    }
    private lazy val isConvertTz: Boolean = child.exists {
      case _: org.apache.spark.sql.catalyst.expressions.FromUTCTimestamp =>
        true
      case _ => false
    }
    // a DATETIME(p)/TIMESTAMP(p) COLUMN with declared fractional
    // precision yields DECIMAL scaled to p (replaceTable stamps the
    // declared precision as field metadata — "UNIX_TIMESTAMP preserves
    // trailing 0s": dt2 renders 1577943296.12)
    private lazy val colFracScale: Option[Int] = fracScale.orElse(child match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.metadata.contains("graft_time_prec") =>
        Some(a.metadata.getLong("graft_time_prec").toInt)
      case _ => None
    })
    override def dataType: DataType = child.dataType match {
      case _: StringType => litFracScale match {
        case Some(0) => LongType
        case Some(k) => DecimalType(20 + k, k)
        case None => DecimalType(26, 6)
      }
      case TimestampType | TimestampNTZType
          if colFracScale.exists(_ > 0) =>
        DecimalType(20 + colFracScale.get, colFracScale.get)
      // CONVERT_TZ returns DATETIME(6) in the reference, so its
      // unix_timestamp renders 6 fraction digits ("1695625377.000000")
      case _ if isConvertTz => DecimalType(26, 6)
      case _ => LongType
    }
    override def nullable: Boolean = true
    private def tz: java.time.ZoneId = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    private val Dt =
      """^(\d{4})-(\d{2})-(\d{2})(?: (\d{1,2}):(\d{1,2}):(\d{1,2})(\.(\d+))?)?$""".r
    private val TimeOnly =
      """^(\d{1,3}):(\d{1,2}):(\d{1,2})(\.(\d+))?$""".r
    override def nullSafeEval(v: Any): Any = {
      def out(epoch: Long, fracDigits: String): Any = dataType match {
        case LongType => math.max(0L, epoch)
        case dt: DecimalType =>
          val k = dt.scale
          val base = java.math.BigDecimal.valueOf(math.max(0L, epoch))
          val fr =
            if (epoch < 0 || fracDigits.isEmpty) java.math.BigDecimal.ZERO
            else new java.math.BigDecimal("0." + fracDigits.take(6))
          org.apache.spark.sql.types.Decimal(
            base.add(fr).setScale(k, java.math.RoundingMode.HALF_UP))
        case _ => math.max(0L, epoch)
      }
      (v, child.dataType) match {
        case (u: UTF8String, _: StringType) =>
          DateTimeExt.mysqlDateStrNorm(u.toString) match {
            case Dt(y, mo, d, h, mi, se, _, fr) =>
              try {
                val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt,
                  d.toInt, Option(h).map(_.toInt).getOrElse(0),
                  Option(mi).map(_.toInt).getOrElse(0),
                  Option(se).map(_.toInt).getOrElse(0))
                out(ldt.atZone(tz).toEpochSecond,
                  Option(fr).getOrElse(""))
              } catch { case _: Exception => null }
            case TimeOnly(h, mi, se, _, fr) =>
              // MySQL interprets a bare TIME as today's wall clock in
              // the session zone (hours may exceed 24)
              val today = java.time.LocalDate.now(tz)
              out(today.atStartOfDay(tz).toEpochSecond +
                h.toLong * 3600 + mi.toLong * 60 + se.toLong,
                Option(fr).getOrElse(""))
            case _ => null
          }
        case (m: Long, TimestampType) =>
          out(Math.floorDiv(m, 1000000L),
            f"${Math.floorMod(m, 1000000L)}%06d")
        case (m: Long, TimestampNTZType) =>
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(m, 1000000L), 0, java.time.ZoneOffset.UTC)
          out(ldt.atZone(tz).toEpochSecond,
            f"${Math.floorMod(m, 1000000L)}%06d")
        case (d: Int, DateType) =>
          out(java.time.LocalDate.ofEpochDay(d.toLong)
            .atStartOfDay(tz).toEpochSecond, "")
        case _ => null
      }
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  /** CAST(x AS YEAR) (reference sql/types/year.go): 2-digit window
    * 1..69 -> 2001..2069, 70..99 -> 1970..1999; 0 -> 2000 for strings,
    * 0000 for numeric 0; 1901..2155 pass through; outside -> NULL.
    * DECIMAL(20,0) result so json_type sees the unsigned marker. */
  case class MySqlYearCast(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DecimalType(20, 0)
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) return null
      val isStr = child.dataType.isInstanceOf[StringType] ||
        child.dataType == BinaryType
      val n = try {
        val d = MySqlArith.toDoubleVal(v, child.dataType)
        if (d != math.floor(d)) return null
        d.toLong
      } catch { case _: Exception => return null }
      val y =
        if (n == 0) { if (isStr) 2000L else 0L }
        else if (n >= 1 && n <= 69) 2000 + n
        else if (n >= 70 && n <= 99) 1900 + n
        else if (n >= 1901 && n <= 2155) n
        else return null
      org.apache.spark.sql.types.Decimal(y)
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** FIELD(x, s1, s2, ...) — 1-based index of x among s1.., 0 if absent
    * (reference: FIELD in registry.go; NULL x -> 0 per MySQL). */
  case class MySqlField(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    // MySQL FIELD compares as strings only when EVERY argument is a
    // string; any numeric operand switches the whole call to numeric
    // comparison (field(i, '1', '2') matches by value, reference
    // sql/expression/function/field.go)
    private lazy val numericMode = !children.forall(c => c.dataType match {
      case _: StringType | BinaryType | NullType => true
      case _ => false
    })
    override def eval(input: InternalRow): Any = {
      val target = children.head.eval(input)
      if (target == null) 0
      else if (numericMode) {
        val t = MySqlArith.toDoubleVal(target, children.head.dataType)
        val idx = children.tail.indexWhere { e =>
          val v = e.eval(input)
          v != null && MySqlArith.toDoubleVal(v, e.dataType) == t
        }
        idx + 1
      } else {
        val idx = children.tail.indexWhere { e =>
          val v = e.eval(input)
          v != null && v == target
        }
        idx + 1
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  /** CHARSET(expr) — static from the operand's type: strings are the
    * session charset, numbers/NULL report 'binary' (reference
    * sql/expression/function/charset.go over CollationCoercibility). */
  case class CharsetOf(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    private def unwrap(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => unwrap(c.child)
      case o => o
    }
    override def eval(input: InternalRow): Any =
      UTF8String.fromString(unwrap(child) match {
        case cc: CharsetConvert => cc.cs.toLowerCase
        case _ => child.dataType match {
          case _: StringType => "utf8mb4"
          case _ => "binary"
        }
      })
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** CONVERT(x USING cs) — a lossy round-trip through the target
    * charset (unmappable chars become '?', like MySQL's conversion with
    * warnings), tagged so CHARSET()/COLLATION() report the declared
    * charset (reference sql/expression/convert.go USING). */
  case class CharsetConvert(child: Expression, cs: String)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    @transient private lazy val jcharset: Option[java.nio.charset.Charset] =
      cs.toLowerCase match {
        case "latin1" => Some(java.nio.charset.StandardCharsets.ISO_8859_1)
        case "ascii" => Some(java.nio.charset.StandardCharsets.US_ASCII)
        case "utf8" | "utf8mb3" | "utf8mb4" =>
          Some(java.nio.charset.StandardCharsets.UTF_8)
        case "ucs2" | "utf16" => Some(java.nio.charset.StandardCharsets.UTF_16BE)
        case "utf16le" => Some(java.nio.charset.StandardCharsets.UTF_16LE)
        case "utf32" =>
          scala.util.Try(java.nio.charset.Charset.forName("UTF-32BE")).toOption
        case _ => None // binary and unmapped charsets: identity
      }
    override def nullSafeEval(v: Any): Any = {
      val str = v match {
        case u: UTF8String => u.toString
        case b: Array[Byte] => new String(b, "UTF-8")
        case o => String.valueOf(o)
      }
      val out = jcharset match {
        case Some(c) if c != java.nio.charset.StandardCharsets.UTF_8 =>
          val enc = c.newEncoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
            .replaceWith("?".getBytes(c))
          val bytes = enc.encode(java.nio.CharBuffer.wrap(str))
          new String(bytes.array(), bytes.position(), bytes.remaining(), c)
        case _ => str
      }
      UTF8String.fromString(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** INSERT(str, pos, len, newstr) — MySQL string splice: replaces `len`
    * chars of `str` starting at 1-based `pos`; out-of-range pos returns
    * str unchanged. */
  case class MySqlInsertStr(children: Seq[Expression])
      extends Expression with CodegenFallback {
    require(children.length == 4)
    override def dataType: DataType = StringType
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) return null
      val s = vs(0).asInstanceOf[UTF8String].toString
      val pos = vs(1).asInstanceOf[Number].intValue()
      val len = vs(2).asInstanceOf[Number].intValue()
      val ins = vs(3).asInstanceOf[UTF8String].toString
      if (pos < 1 || pos > s.length) UTF8String.fromString(s)
      else {
        // negative len = "to end of string" (MySQL: replacement continues
        // to the end whenever len exceeds the remaining length)
        val end = if (len < 0) s.length else math.min(s.length, pos - 1 + len)
        UTF8String.fromString(s.substring(0, pos - 1) + ins + s.substring(end))
      }
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  /** TRUNCATE(X, D) — MySQL truncation toward zero at D decimal places
    * (reference function/math.go Truncate; negative D zeroes digits left
    * of the point). Result type follows the argument: DECIMAL stays
    * DECIMAL (original scale, value truncated), DOUBLE/string -> DOUBLE,
    * integer -> BIGINT. Fractional D rounds (MySQL coercion); string D
    * takes its leading integer part. */
  case class MySqlTruncate(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = left.dataType match {
      case d: DecimalType =>
        // MySQL's result scale follows the (constant) precision arg:
        // TRUNCATE(1.223, 1) is 1.2, not 1.200 (function_queries.go:195+)
        val scale =
          if (right.foldable)
            scala.util.Try(dOf(right.eval())).toOption
              .map(dd => math.max(0, math.min(dd, d.scale)))
              .getOrElse(d.scale)
          else d.scale
        DecimalType(38, scale)
      case ByteType | ShortType | IntegerType | LongType => LongType
      case _ => DoubleType
    }
    override def nullable: Boolean = true
    private def dOf(v: Any): Int = v match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case d: org.apache.spark.sql.types.Decimal => math.round(d.toDouble).toInt
      case d: Double => math.round(d).toInt
      case f: Float => math.round(f)
      case u: UTF8String =>
        val m = "^\\s*-?[0-9]+".r.findFirstIn(u.toString)
        m.map(_.trim.toInt).getOrElse {
          // '1.5abc' -> leading numeric, integer part (truncated)
          "^\\s*-?[0-9.]+".r.findFirstIn(u.toString)
            .flatMap(s => scala.util.Try(s.trim.toDouble.toInt).toOption)
            .getOrElse(0)
        }
      case _ => 0
    }
    override def nullSafeEval(x: Any, d: Any): Any = {
      val dd = dOf(d)
      import java.math.{BigDecimal => JBD, RoundingMode}
      x match {
        case dec: org.apache.spark.sql.types.Decimal =>
          val bd = dec.toJavaBigDecimal
          val outScale = dataType.asInstanceOf[DecimalType].scale
          val eff = math.min(dd, bd.scale)
          val truncated = bd.setScale(eff, RoundingMode.DOWN).setScale(outScale)
          org.apache.spark.sql.types.Decimal(truncated, 38, outScale)
        case n @ (_: Byte | _: Short | _: Int | _: Long) =>
          val l = n.asInstanceOf[Number].longValue()
          if (dd >= 0) l
          else new JBD(l).setScale(dd, RoundingMode.DOWN)
            .setScale(0).longValueExact()
        case other =>
          val dv = other match {
            case db: Double => db
            case f: Float => f.toDouble
            case u: UTF8String =>
              "^\\s*-?[0-9.]+".r.findFirstIn(u.toString)
                .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
                .getOrElse(0.0)
            case o => scala.util.Try(o.toString.toDouble).getOrElse(0.0)
          }
          JBD.valueOf(dv).setScale(dd, RoundingMode.DOWN).doubleValue()
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** MySQL TRIM(remstr FROM str): remstr is a SUBSTRING removed
    * repeatedly from the ends — Spark's trimStr form treats it as a
    * character SET instead (reference planbuilder trim -> sql/expression
    * function/string.go Trim). mode: 0 both, 1 leading, 2 trailing.
    * Installed by the MySqlTrimRule optimizer rewrite. */
  case class MySqlTrimStr(left: Expression, right: Expression, mode: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(src: Any, pat: Any): Any = {
      var s = src.asInstanceOf[UTF8String].toString
      val p = pat.asInstanceOf[UTF8String].toString
      if (p.isEmpty) return UTF8String.fromString(s)
      if (mode != 2) while (s.startsWith(p)) s = s.substring(p.length)
      if (mode != 1) while (s.endsWith(p)) s = s.substring(0, s.length - p.length)
      UTF8String.fromString(s)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r, mode)
  }

  /** MySQL compares a JSON scalar against a number NUMERICALLY
    * (json_scripts.go "json type value compared with number type value":
    * JSON_EXTRACT('0.4', '$') > 0 is true); Spark's string-vs-int
    * coercion truncates '0.4' to 0. Wherever a JSON-producing expression
    * meets a numeric operand in a comparison, both sides go to double. */
  object JsonNumericCompareRule extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Cast}
    private def isJson(e: Expression): Boolean = e match {
      case _: graft.functions.json.JsonExtractMySql => true
      case _: graft.functions.json.JsonValueFn => true
      case c: Cast => isJson(c.child)
      case _ => false
    }
    private def isNum(e: Expression): Boolean =
      e.resolved && e.dataType.isInstanceOf[NumericType]
    private def stripCasts(e: Expression): Expression = e match {
      case c: Cast => stripCasts(c.child)
      case o => o
    }
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.transformAllExpressions {
        // Spark's coercion may already have wrapped the json side in a
        // truncating integral cast — strip it and re-cast both sides to
        // double. The double-double guard stops reapplication.
        case b: BinaryComparison if b.left.resolved && b.right.resolved &&
            !(b.left.dataType == DoubleType && b.right.dataType == DoubleType) &&
            ((isJson(b.left) && isNum(stripCasts(b.right))) ||
             (isJson(b.right) && isNum(stripCasts(b.left)))) =>
          b.withNewChildren(Seq(
            Cast(stripCasts(b.left), DoubleType),
            Cast(stripCasts(b.right), DoubleType)))
            .asInstanceOf[Expression]
      }
  }

  /** Optimizer rewrite installing MySQL substring-TRIM semantics over
    * Spark's char-set StringTrim family whenever an explicit trim string
    * is present (the whitespace default is identical in both dialects). */
  object MySqlTrimRule extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{StringTrim, StringTrimLeft, StringTrimRight}
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.transformAllExpressions {
        case StringTrim(src, Some(t)) => MySqlTrimStr(src, t, 0)
        case StringTrimLeft(src, Some(t)) => MySqlTrimStr(src, t, 1)
        case StringTrimRight(src, Some(t)) => MySqlTrimStr(src, t, 2)
      }
  }

  /** LOCATE/POSITION/INSTR are case-insensitive in MySQL for non-binary
    * strings (the default *_ci collations; reference string functions
    * over TextStorage: locate('o', 'LOWERCASE') = 2). Spark's builtins
    * compare exactly — fold both operands through Lower. Binary
    * operands keep exact matching. */
  object MySqlCiLocateRule extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{Lower, StringInstr, StringLocate}
    private def ciText(e: Expression): Boolean =
      e.resolved && e.dataType.isInstanceOf[StringType] &&
        !e.isInstanceOf[Lower]
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.transformAllExpressions {
        case StringLocate(sub, str, start) if ciText(sub) && ciText(str) =>
          StringLocate(Lower(sub), Lower(str), start)
        case StringInstr(str, sub) if ciText(sub) && ciText(str) =>
          StringInstr(Lower(str), Lower(sub))
      }
  }

  /** Pin MySqlUnixTimestamp's fractional scale from the child
    * attribute's declared-precision metadata BEFORE binding replaces
    * the attribute with a BoundReference (which has no metadata — the
    * plan schema and the interpreted eval would disagree). */
  object MySqlUnixTsScaleRule extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.transformAllExpressions {
        case u @ MySqlUnixTimestamp(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
            None) if a.metadata.contains("graft_time_prec") =>
          u.copy(fracScale =
            Some(a.metadata.getLong("graft_time_prec").toInt))
      }
  }

  /** INET_ATON('a.b.c.d') -> long, NULL on malformed input (MySQL). */
  case class InetAton(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val parts = v.asInstanceOf[UTF8String].toString.split("\\.", -1)
      if (parts.length != 4) return null
      var acc = 0L
      var i = 0
      while (i < 4) {
        val p = try parts(i).toInt catch { case _: NumberFormatException => return null }
        if (p < 0 || p > 255) return null
        acc = acc * 256 + p
        i += 1
      }
      acc
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** INET_NTOA(n) -> 'a.b.c.d'. */
  case class InetNtoa(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      val n = v.asInstanceOf[Number].longValue() & 0xFFFFFFFFL
      UTF8String.fromString(
        s"${(n >> 24) & 255}.${(n >> 16) & 255}.${(n >> 8) & 255}.${n & 255}")
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** INET6_ATON: text (v4 or v6) -> 4/16-byte binary; NULL on malformed.
    * Uses Guava's literal parser (no DNS lookup, unlike InetAddress). */
  case class Inet6Aton(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any =
      try {
        val text = v.asInstanceOf[UTF8String].toString
        val bytes = com.google.common.net.InetAddresses.forString(text).getAddress
        // guava folds IPv4-mapped text (::ffff:a.b.c.d) to 4 bytes; MySQL
        // INET6_ATON keeps the 16-byte mapped form for ':'-shaped input
        if (bytes.length == 4 && text.contains(":")) {
          val out = new Array[Byte](16)
          out(10) = -1; out(11) = -1
          System.arraycopy(bytes, 0, out, 12, 4)
          out
        } else bytes
      } catch { case _: IllegalArgumentException => null }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** INET6_NTOA: 4/16-byte binary -> canonical text; NULL on bad length. */
  case class Inet6Ntoa(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      if (b.length != 4 && b.length != 16) null
      else UTF8String.fromString(
        com.google.common.net.InetAddresses.toAddrString(
          java.net.InetAddress.getByAddress(b)))
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** EXPORT_SET(bits, on, off, sep, n) with the MySQL default ordering:
    * lowest bit first. */
  case class ExportSet(children: Seq[Expression])
      extends Expression with CodegenFallback {
    require(children.length >= 3 && children.length <= 5,
      "EXPORT_SET takes 3 to 5 arguments")
    override def dataType: DataType = StringType
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.contains(null)) return null
      val bits = vs(0).asInstanceOf[Number].longValue()
      val on = vs(1).asInstanceOf[UTF8String].toString
      val off = vs(2).asInstanceOf[UTF8String].toString
      // MySQL defaults: separator ',' and 64 bits
      val sep = if (vs.length > 3) vs(3).asInstanceOf[UTF8String].toString
                else ","
      val n =
        if (vs.length > 4)
          math.min(math.max(vs(4).asInstanceOf[Number].intValue(), 0), 64)
        else 64
      val out = (0 until n).map(i => if (((bits >> i) & 1L) == 1L) on else off)
      UTF8String.fromString(out.mkString(sep))
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  /** SOUNDEX with MySQL's unabridged algorithm (reference
    * function/soundex.go): unlike the 4-char standard form, every coded
    * consonant appends ("Test String!" → T2323652); the result still
    * zero-pads to at least 4 chars, non-alpha characters are skipped,
    * and an input with no letters yields the empty string. */
  case class MySqlSoundex(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    private def code(c: Char): Int = Character.toUpperCase(c) match {
      case 'B' | 'F' | 'P' | 'V' => 1
      case 'C' | 'G' | 'J' | 'K' | 'Q' | 'S' | 'X' | 'Z' => 2
      case 'D' | 'T' => 3
      case 'L' => 4
      case 'M' | 'N' => 5
      case 'R' => 6
      case _ => 0
    }
    override def nullSafeEval(v: Any): Any = {
      val s = v match {
        case u: UTF8String => u.toString
        case b: Array[Byte] => new String(b, "UTF-8")
        case o => String.valueOf(o)
      }
      val letters = s.filter(_.isLetter)
      if (letters.isEmpty) return UTF8String.fromString("")
      val sb = new StringBuilder
      sb.append(Character.toUpperCase(letters.head))
      var prev = code(letters.head)
      letters.tail.foreach { c =>
        val d = code(c)
        if (d != 0 && d != prev) sb.append(d)
        prev = d
      }
      while (sb.length < 4) sb.append('0')
      UTF8String.fromString(sb.result())
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  /** MAKE_SET(bits, s1, s2, ...) — joins with ',' the strings whose bit is
    * set (lowest bit = s1); NULL strings are skipped (MySQL semantics,
    * reference: MAKE_SET in registry.go). */
  case class MakeSet(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = children.head.nullable
    override def eval(input: InternalRow): Any = {
      val bitsV = children.head.eval(input)
      if (bitsV == null) return null
      val bits = bitsV match {
        // bit-op results arrive as DECIMAL(20,0) (MySqlBitOp uint64)
        case d: org.apache.spark.sql.types.Decimal => d.toLong
        case n: Number => n.longValue()
        case u: UTF8String =>
          scala.util.Try(u.toString.trim.toDouble.toLong).getOrElse(0L)
        case _ => 0L
      }
      val parts = children.tail.zipWithIndex.collect {
        case (e, i) if ((bits >> i) & 1L) == 1L && e.eval(input) != null =>
          e.eval(input).toString
      }
      UTF8String.fromString(parts.mkString(","))
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
  }

  /** MySQL QUOTE(): wraps in single quotes, escaping ', \, NUL, ^Z. */
  /** Accent-insensitive case-insensitive fold — the comparison key of
    * MySQL's default collation utf8mb4_0900_ai_ci (reference
    * sql/collations.go: ai_ci is the 8.0 default). Unicode NFD
    * decomposition, combining-mark strip, lowercase: two strings compare
    * equal under ai_ci iff their folds are byte-equal, so grouping /
    * joining on the fold gives collation-correct semantics with plain
    * binary equality (shuffle keys stay simple byte arrays at scale). */
  case class AccentFold(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val folded = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{M}+", "")
        .toLowerCase(java.util.Locale.ROOT)
      UTF8String.fromString(folded)
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  case class QuoteStr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      // non-string inputs (QUOTE(42)) stringify first, like MySQL
      val s = v match {
        case u: UTF8String => u.toString
        case o => String.valueOf(o)
      }
      val b = new StringBuilder("'")
      s.foreach {
        case '\'' => b.append("\\'")
        case '\\' => b.append("\\\\")
        case '\u0000' => b.append("\\0")
        case '\u001A' => b.append("\\Z")
        case c => b.append(c)
      }
      UTF8String.fromString(b.append("'").result())
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** Winnowing fingerprint: minimum of the polynomial rolling hashes of all
    * k-char windows (Rabin-Karp recurrence, O(n) per document). Matches the
    * "document fingerprinting (rolling hash)" north-star op; SQL oracle
    * computes the same min over per-window hashes in O(n·k).
    *
    * hash(w) = sum_{i<k} c_i * B^(k-1-i)  mod M,  B=31, M=2^61-1.
    */
  case class WinnowFingerprint(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    private val B = 31L
    private val M = (1L << 61) - 1
    private def mulmod(a: Long, b: Long): Long =
      java.math.BigInteger.valueOf(a).multiply(java.math.BigInteger.valueOf(b))
        .mod(java.math.BigInteger.valueOf(M)).longValue()
    override def nullSafeEval(str: Any, kAny: Any): Any = {
      val s = str.asInstanceOf[UTF8String].toString
      val k = kAny.asInstanceOf[Number].intValue()
      if (k <= 0 || s.length < k) return null
      // B^(k-1) mod M for the roll-off term
      var bk = 1L
      (1 until k).foreach(_ => bk = mulmod(bk, B))
      var h = 0L
      (0 until k).foreach(i => h = (mulmod(h, B) + s.charAt(i)) % M)
      var best = h
      var i = k
      while (i < s.length) {
        h = (h - mulmod(s.charAt(i - k), bk) % M + M) % M
        h = (mulmod(h, B) + s.charAt(i)) % M
        if (h < best) best = h
        i += 1
      }
      best
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(l, r)
  }

  /** MySQL COMPRESS(): 4-byte little-endian uncompressed length, then the
    * zlib deflate stream (reference: compress in registry.go /
    * function/encode.go family). Empty string compresses to empty. */
  case class CompressExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(v: Any): Any = {
      val bytes = v match {
        case u: UTF8String => u.getBytes
        case b: Array[Byte] => b
      }
      if (bytes.isEmpty) return Array.emptyByteArray
      val d = new java.util.zip.Deflater()
      d.setInput(bytes); d.finish()
      val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 16)
      out.write(bytes.length & 0xFF); out.write((bytes.length >> 8) & 0xFF)
      out.write((bytes.length >> 16) & 0xFF); out.write((bytes.length >> 24) & 0xFF)
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** MySQL UNCOMPRESS(): inverse of CompressExpr; NULL on corrupt input. */
  case class UncompressExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[Array[Byte]]
      if (bytes.isEmpty) return UTF8String.fromString("")
      if (bytes.length < 5) return null
      try {
        val inf = new java.util.zip.Inflater()
        inf.setInput(bytes, 4, bytes.length - 4)
        val out = new java.io.ByteArrayOutputStream(bytes.length * 3)
        val buf = new Array[Byte](4096)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput()) return null
          out.write(buf, 0, n)
        }
        inf.end()
        UTF8String.fromBytes(out.toByteArray)
      } catch { case _: Exception => null }
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** MySQL UNCOMPRESSED_LENGTH(): reads the 4-byte LE header. */
  case class UncompressedLength(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      if (b.isEmpty) 0
      else if (b.length < 4) null
      else (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) |
        ((b(3) & 0xFF) << 24)
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  /** MySQL implicit string->number coercion (SURVEY §7.4 hard-part 1;
    * reference sql/types/number.go + convert_value.go): the longest valid
    * numeric PREFIX converts, everything else is 0 — `'12.5abc'` -> 12.5,
    * `'abc'` -> 0, `' 42'` -> 42. Spark's cast gives NULL for these;
    * MySQL's truncate-with-warning behavior maps to this expression. */
  case class MySqlToNumber(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = child.nullable
    override def nullSafeEval(v: Any): Any = v match {
      case u: UTF8String =>
        val m = MySqlToNumber.Prefix.matcher(u.toString)
        if (m.find() && m.group(1).nonEmpty) m.group(1).toDouble else 0.0
      case b: Boolean => if (b) 1.0 else 0.0
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue
      case b: Array[Byte] =>
        val m = MySqlToNumber.Prefix.matcher(new String(b, "UTF-8"))
        if (m.find() && m.group(1).nonEmpty) m.group(1).toDouble else 0.0
      case _ => 0.0
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }
  object MySqlToNumber {
    /** identical pattern is used in the DuckDB oracle SQL */
    val PrefixRegex = "^[ \\t]*([+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)(?:[eE][+-]?[0-9]+)?)"
    private val Prefix = java.util.regex.Pattern.compile(PrefixRegex)
  }

  /** MySQL-lenient datetime canonicalization for write paths: maps
    * MySQL-legal shapes Spark's cast rejects ('2009.02.09',
    * '2009/02/09', '20090209', 2-digit years) to ISO form; anything
    * else passes through unchanged so the following cast's NULL still
    * signals a genuinely bad value (strict-mode 1292). Logic in
    * [[DateTimeExt.mysqlDateStrNorm]]. */
  case class MySqlDateStrNorm(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = child.dataType
    override def nullSafeEval(v: Any): Any = v match {
      case u: UTF8String =>
        UTF8String.fromString(DateTimeExt.mysqlDateStrNorm(u.toString))
      case o => o
    }
    override protected def withNewChildInternal(c: Expression) = copy(c)
  }

  // ---- Column wrappers -----------------------------------------------

  import org.apache.spark.sql.GraftBridge
  private def c(e: Expression): Column = GraftBridge.column(e)
  private def x(col: Column): Expression = GraftBridge.expression(col)

  def field(target: Column, among: Column*): Column =
    c(MySqlField((target +: among).map(x)))
  def insertStr(s: Column, pos: Column, len: Column, ins: Column): Column =
    c(MySqlInsertStr(Seq(s, pos, len, ins).map(x)))
  def inetAton(s: Column): Column = c(InetAton(x(s)))
  def inetNtoa(n: Column): Column = c(InetNtoa(x(n)))
  def exportSet(bits: Column, on: Column, off: Column, sep: Column, n: Column): Column =
    c(ExportSet(Seq(bits, on, off, sep, n).map(x)))
  def quoteStr(s: Column): Column = c(QuoteStr(x(s)))
  def makeSet(bits: Column, strs: Column*): Column =
    c(MakeSet((bits +: strs).map(x)))
  def compress(s: Column): Column = c(CompressExpr(x(s)))
  def uncompress(b: Column): Column = c(UncompressExpr(x(b)))
  def uncompressedLength(b: Column): Column = c(UncompressedLength(x(b)))
  def mysqlToNumber(s: Column): Column = c(MySqlToNumber(x(s)))
  def inet6Aton(s: Column): Column = c(Inet6Aton(x(s)))
  def inet6Ntoa(b: Column): Column = c(Inet6Ntoa(x(b)))
  /** IS_IPV4 / IS_IPV6 as regex/parse compositions. */
  def isIpv4(s: Column): Column =
    s.rlike("^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$")
  def isIpv6(s: Column): Column =
    c(Inet6Aton(x(s))).isNotNull && !isIpv4(s)
  def winnowFingerprint(s: Column, k: Column): Column =
    c(WinnowFingerprint(x(s), x(k)))
  def accentFold(s: Column): Column = c(AccentFold(x(s)))

  /** Register everything for SQL use (the reference's FunctionProvider /
    * registry.go analog; production path would be
    * SparkSessionExtensions.injectFunction). */
  def register(spark: SparkSession): Unit = {
    val reg = org.apache.spark.sql.GraftBridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction("mysql_field", es => MySqlField(es), "scala_udf")
    reg.createOrReplaceTempFunction("mysql_insert", es => MySqlInsertStr(es), "scala_udf")
    reg.createOrReplaceTempFunction("inet_aton", es => InetAton(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("inet_ntoa", es => InetNtoa(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("export_set", es => ExportSet(es), "scala_udf")
    reg.createOrReplaceTempFunction("mysql_quote", es => QuoteStr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("make_set", es => MakeSet(es), "scala_udf")
    reg.createOrReplaceTempFunction("compress", es => CompressExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("uncompress", es => UncompressExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("uncompressed_length",
      es => UncompressedLength(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("mysql_to_number",
      es => MySqlToNumber(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fingerprint",
      es => WinnowFingerprint(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("ai_ci_fold",
      es => AccentFold(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("soundex",
      es => MySqlSoundex(es.head), "scala_udf")
  }
}
