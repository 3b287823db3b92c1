package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Long-tail MySQL scalar functions that are neither Spark builtins nor
  * covered elsewhere in graft — closing the registry.go surface gap
  * (reference sql/expression/function/registry.go). Compositions are
  * SQL-template builders: the template parses to ordinary unresolved
  * Catalyst nodes (which the analyzer resolves like any SQL text) with
  * `__argN` placeholders substituted by the call's argument expressions.
  * Session/lock/replication functions (found_rows, get_lock,
  * gtid_subtract, load_file, random_bytes ...) stay descoped per
  * SURVEY §2.12.
  */
object MiscFns {

  // ---- native bits ----------------------------------------------------

  /** ORD(s) — code of the leftmost character: for multibyte chars MySQL
    * returns the UTF-8 bytes big-endian (reference ord in string.go). */
  case class Ord(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      if (s.isEmpty) 0L
      else {
        val first = s.codePointAt(0)
        val bytes = new String(Character.toChars(first))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        bytes.foldLeft(0L)((acc, b) => acc * 256 + (b & 0xff))
      }
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** IS_BINARY(e) — true when the argument is a binary type (reference
    * is_binary.go checks the value class, which is static here). */
  case class IsBinary(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any =
      child.dataType.isInstanceOf[BinaryType]
    override def nullSafeEval(v: Any): Any = eval(null)
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  /** IS_IPV4_COMPAT / IS_IPV4_MAPPED over inet6_aton 16-byte addresses
    * (reference inetfunctions.go): compat = first 12 bytes zero;
    * mapped = 10 zero bytes then 0xFFFF. */
  case class Ipv4Embedded(child: Expression, mapped: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      if (b.length != 16) false
      else {
        val prefixZero = (0 until 10).forall(b(_) == 0)
        if (mapped) prefixZero && b(10) == -1 && b(11) == -1
        else prefixZero && b(10) == 0 && b(11) == 0
      }
    }
    override protected def withNewChildInternal(nc: Expression) = copy(nc)
  }

  // ---- column API (DataFrame users; same formulas as the templates) ---

  /** MySQL TIME(expr): the time-of-day part as 'HH:MM:SS'. */
  def timeOf(ts: Column): Column = date_format(ts.cast("timestamp"), "HH:mm:ss")

  /** STRCMP(a, b) -> -1/0/1. */
  def strCmp(a: Column, b: Column): Column =
    when(a < b, -1).when(a > b, 1).otherwise(0)

  /** MICROSECOND(ts). */
  def microsecondOf(ts: Column): Column =
    date_format(ts.cast("timestamp"), "SSSSSS").cast("int")

  /** VALIDATE_PASSWORD_STRENGTH(s) — documented tier heuristic (plugin
    * dictionary checks descoped): 0 (<4 chars), 25 (<8), 50 (>=8),
    * +25 for digit AND mixed case, +25 more when a special char joins. */
  def passwordStrength(s: Column): Column = {
    val hasDigit = s.rlike("[0-9]")
    val hasMixed = s.rlike("[a-z]") && s.rlike("[A-Z]")
    val hasSpecial = s.rlike("[^a-zA-Z0-9]")
    when(length(s) < 4, 0)
      .when(length(s) < 8, 25)
      .otherwise(
        lit(50) + when(hasDigit && hasMixed, 25).otherwise(0) +
          when(hasDigit && hasMixed && hasSpecial, 25).otherwise(0))
  }

  // ---- registration ---------------------------------------------------

  private type B = Seq[Expression] => Expression

  /** Parse a SQL template and substitute `__argN` with the caller's
    * argument expressions — the result is ordinary unresolved Catalyst
    * (NOT Column-bridge nodes, which the analyzer cannot resolve when
    * nested inside a registry-built expression). */
  /** COERCIBILITY taxonomy from the argument's unresolved shape
    * (reference coercibility.go; collation_coercion.go expectations). */
  private def coercibilityOf(e: Expression): Int = e match {
    case Literal(null, _) => 6
    case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => 4
    case Literal(_, _) => 5 // numeric / boolean / temporal literals
    case _: UnresolvedAttribute => 2 // column value
    case _: AttributeReference => 2 // already-resolved column value
    case c: Cast => c.dataType match {
      case _: StringType | BinaryType => 2 // CONVERT(x, BINARY/JSON/CHAR)
      case _ => 5 // CONVERT to numeric / temporal
    }
    // already-resolved temporal/numeric builtins (the registry resolves
    // bottom-up, so CURDATE() may arrive as CurrentDate)
    case other if Set("CurrentDate", "CurrentTimestamp", "Now",
        "CurrentTime", "CurTimeWithFraction", "Rand", "Pi")
        .contains(other.getClass.getSimpleName) => 5
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
      val nm = f.nameParts.last.toLowerCase
      if (nm == "collate") 0
      else if (Set("user", "current_user", "session_user", "system_user",
          "version", "database", "schema").contains(nm)) 3 // system constant
      else if (Set("curdate", "current_date", "now", "current_timestamp",
          "curtime", "sysdate", "rand", "pi", "connection_id",
          "last_insert_id", "row_count", "found_rows", "abs", "floor",
          "ceil", "ceiling", "round", "unix_timestamp", "to_days",
          "datediff", "length", "char_length", "ascii", "ord",
          "crc32").contains(nm)) 5 // numeric/temporal result
      else 4
    case other if other.getClass.getSimpleName.startsWith("Collate") => 0
    case _ => 4
  }

  private def tmpl(sqlText: String): B = es =>
    CatalystSqlParser.parseExpression(sqlText).transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.length == 1 && a.nameParts.head.startsWith("__arg") =>
        es(a.nameParts.head.drop(5).toInt)
    }

  private def litStr(e: Expression, fn: String): String = e match {
    case Literal(s: UTF8String, _: StringType) => s.toString
    case other =>
      throw new IllegalArgumentException(s"$fn expects a literal string, got $other")
  }
  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) => l.toInt
    case other =>
      throw new IllegalArgumentException(s"$fn expects a literal int, got $other")
  }

  private val SECS =
    "(unix_timestamp(CAST(__arg0 AS TIMESTAMP)) - unix_timestamp(CAST(__arg1 AS TIMESTAMP)))"

  /** Spark-SQL WEEK(date, mode) formula for one MySQL mode — the engine
    * twin of the DuckDB oracle generator (Spark dayofweek: Sunday=1). */
  private def weekSql(mode: Int): String = {
    require(mode >= 0 && mode <= 7, s"WEEK mode $mode")
    if (mode == 3) "weekofyear(CAST(__arg0 AS DATE))"
    else {
      val monday = mode % 2 == 1
      val fourDays = Set(1, 4, 6)(mode)
      val zeroRange = Set(0, 1, 4, 5)(mode)
      val d = "CAST(__arg0 AS DATE)"
      def dowOf(j: String) =
        if (monday) s"(dayofweek($j)+5)%7" else s"(dayofweek($j)+6)%7"
      def startOf(y: String) = {
        val j = s"make_date($y,1,1)"
        if (fourDays)
          s"date_add($j, CAST(CASE WHEN ${dowOf(j)} <= 3 THEN -(${dowOf(j)}) ELSE 7-(${dowOf(j)}) END AS INT))"
        else
          s"date_add($j, CAST((7-(${dowOf(j)}))%7 AS INT))"
      }
      def wk(start: String) =
        s"CAST(floor(datediff($d, $start)/7) AS INT) + 1"
      val s0 = startOf(s"year($d)")
      val before = if (zeroRange) "0" else wk(startOf(s"year($d)-1"))
      val main = s"CASE WHEN $d >= $s0 THEN ${wk(s0)} ELSE $before END"
      if (fourDays && !zeroRange)
        s"CASE WHEN $d >= ${startOf(s"year($d)+1")} THEN 1 ELSE $main END"
      else main
    }
  }

  private def yearWeekSql: String = {
    val d = "CAST(__arg0 AS DATE)"
    def fs(y: String) = {
      val j = s"make_date($y,1,1)"
      s"date_add($j, CAST((8 - dayofweek($j)) % 7 AS INT))"
    }
    def yw(y: String) =
      s"($y)*100 + CAST(floor(datediff($d, ${fs(y)})/7) AS INT) + 1"
    s"CASE WHEN $d >= ${fs(s"year($d)")} THEN ${yw(s"year($d)")} ELSE ${yw(s"year($d)-1")} END"
  }

  private val ipv4Rx =
    "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"

  /** Every (name, builder) pair, registered by the Engine constructor.
    * Each entry mirrors the reference function of the same name in
    * registry.go. */
  def builders: Seq[(String, B)] = Seq(
    // date/time tail (reference time.go, dateadd.go)
    // day counts beyond MySQL's representable range read NULL (the CASE
    // guard keeps the INT cast from wrapping; mysql_dt_clamp nulls
    // results past year 9999 / before year 0)
    "adddate" -> tmpl(
      "mysql_dt_clamp(CASE WHEN CAST(__arg1 AS DOUBLE) BETWEEN -4000000 AND 4000000 " +
      "THEN date_add(CAST(mysql_dtnorm(__arg0) AS DATE), CAST(__arg1 AS INT)) END)"),
    "subdate" -> tmpl(
      "mysql_dt_clamp(CASE WHEN CAST(__arg1 AS DOUBLE) BETWEEN -4000000 AND 4000000 " +
      "THEN date_sub(CAST(mysql_dtnorm(__arg0) AS DATE), CAST(__arg1 AS INT)) END)"),
    // NAME_CONST(name, value): a named constant — both args must be
    // constant-shaped (reference function/registry.go NameConst;
    // script_queries.go name_const block pins the error text)
    // UNIX_TIMESTAMP: session-tz interpretation + MySQL result typing
    "unix_timestamp" -> (es =>
      if (es.isEmpty)
        CatalystSqlParser.parseExpression(
          "unix_seconds(current_timestamp())")
      else graft.functions.expressions.MySqlUnixTimestamp(es.head)),
    // NOW(fsp)/CURRENT_TIMESTAMP(fsp): the precision argument is
    // accepted (statement-time value either way)
    "now" -> (_ => CatalystSqlParser.parseExpression("current_timestamp()")),
    "localtimestamp" ->
      (_ => CatalystSqlParser.parseExpression("current_timestamp()")),
    "name_const" -> (es => {
      require(es.length == 2, "name_const(name, value)")
      def constShape(e: Expression): Boolean = e match {
        case _: Literal => true
        case c: Cast => constShape(c.child)
        case n: UnaryMinus => constShape(n.child)
        case _ => false
      }
      if (!es.forall(constShape))
        throw new IllegalArgumentException(
          "incorrect arguments to: NAME_CONST")
      val name = es.head match {
        case Literal(s: UTF8String, _) => s.toString
        case Literal(d: Int, DateType) =>
          java.time.LocalDate.ofEpochDay(d.toLong).toString
        case Literal(v, _) => String.valueOf(v)
        case other => other.sql
      }
      Alias(es(1), name)()
    }),
    // FROM_UNIXTIME: NULL outside [0, 32536771199.999999] (reference
    // function/unixtimestamp.go); 2-arg form formats with %-specs
    "from_unixtime" -> (es => {
      // DECIMAL comparison: the upper bound is within half an ulp of
      // 32536771200.0 as a double, so a double compare admits it
      val guarded = tmpl(
        "CASE WHEN CAST(__arg0 AS DECIMAL(26,6)) >= 0 AND " +
        "CAST(__arg0 AS DECIMAL(26,6)) <= 32536771199.999999 " +
        "THEN CAST(timestamp_seconds(CAST(__arg0 AS DECIMAL(20,6))) " +
        "AS TIMESTAMP) END")(Seq(es.head))
      // render in the SESSION time zone (date_format / the %-formatter
      // both read it); a bare timestamp would collect in the JVM zone
      if (es.length == 1)
        tmpl("date_format(__arg0, 'yyyy-MM-dd HH:mm:ss')")(Seq(guarded))
      else MySqlFormat.dateFormatExpr(Seq(guarded, es(1)))
    }),
    "charset_convert" -> (es =>
      graft.functions.expressions.CharsetConvert(es(0),
        litStr(es(1), "charset_convert"))),
    "mysql_dtnorm" -> (es => DateTimeExt.MySqlDtNorm(es.head)),
    "mysql_dt_clamp" -> (es => DateTimeExt.MySqlDtClamp(es.head)),
    // via string cast, NOT date_format — the registry's date_format is
    // the MySQL %-formatter which re-applies the session offset
    "curtime" -> tmpl(
      "substring(CAST(current_timestamp() AS STRING), 12, 8)"),
    "sysdate" -> tmpl("current_timestamp()"),
    "localtime" -> tmpl("current_timestamp()"),
    "time" -> tmpl("date_format(CAST(__arg0 AS TIMESTAMP), 'HH:mm:ss')"),
    "timediff" -> tmpl(
      s"""concat(CASE WHEN $SECS < 0 THEN '-' ELSE '' END,
         |lpad(CAST(CAST(abs($SECS)/3600 AS BIGINT) AS STRING), 2, '0'), ':',
         |lpad(CAST(CAST((abs($SECS)%3600)/60 AS BIGINT) AS STRING), 2, '0'), ':',
         |lpad(CAST(abs($SECS)%60 AS STRING), 2, '0'))""".stripMargin),
    "timestamp" -> tmpl("CAST(__arg0 AS TIMESTAMP)"),
    "datetime" -> tmpl("CAST(__arg0 AS TIMESTAMP_NTZ)"),
    "microsecond" -> tmpl(
      "CAST(date_format(CAST(__arg0 AS TIMESTAMP), 'SSSSSS') AS INT)"),
    "to_days" -> tmpl(
      "datediff(CAST(__arg0 AS DATE), DATE '1970-01-01') + 719528"),
    "from_days" -> tmpl(
      "date_add(DATE '1970-01-01', CAST(__arg0 - 719528 AS INT))"),
    "yearweek" -> tmpl(yearWeekSql),
    "week" -> (es =>
      tmpl(weekSql(if (es.length > 1) litInt(es(1), "week") else 0))(es)),
    // the inner string hop keeps non-temporal args LEGAL (MySQL
    // coerces, yielding NULL for invalid dates — dolt#10092 NOT EXISTS
    // block probes weekday(int)); a direct INT->DATE cast won't resolve
    "weekday" -> tmpl(
      "(dayofweek(CAST(CAST(__arg0 AS STRING) AS DATE)) + 5) % 7"),
    "get_format" -> (es => Literal(
      UTF8String.fromString(DateTimeExt.getFormat(
        litStr(es(0), "get_format"), litStr(es(1), "get_format"))),
      StringType)),
    "time_format" -> (es => MySqlFormat.dateFormatExpr(Seq(
      tmpl("to_timestamp(concat('1970-01-01 ', __arg0))")(es), es(1)))),
    "timestampdiff" -> (es => {
      val unit = litStr(es(0), "timestampdiff").toUpperCase
      val months =
        """(year(CAST(__arg2 AS DATE)) - year(CAST(__arg1 AS DATE)))*12 +
          |(month(CAST(__arg2 AS DATE)) - month(CAST(__arg1 AS DATE))) -
          |CASE WHEN day(CAST(__arg2 AS DATE)) < day(CAST(__arg1 AS DATE))
          |THEN 1 ELSE 0 END""".stripMargin
      val secs =
        "(unix_timestamp(CAST(__arg2 AS TIMESTAMP)) - unix_timestamp(CAST(__arg1 AS TIMESTAMP)))"
      val sql = unit match {
        case "MONTH" => s"CAST($months AS BIGINT)"
        case "YEAR" => s"CAST(floor(($months)/12) AS BIGINT)"
        case "DAY" =>
          "CAST(datediff(CAST(__arg2 AS DATE), CAST(__arg1 AS DATE)) AS BIGINT)"
        case "HOUR" => s"CAST(floor($secs/3600) AS BIGINT)"
        case "MINUTE" => s"CAST(floor($secs/60) AS BIGINT)"
        case "SECOND" => s"CAST($secs AS BIGINT)"
        case u => throw new IllegalArgumentException(s"TIMESTAMPDIFF unit $u")
      }
      tmpl(sql)(es)
    }),
    "convert_tz" -> tmpl(
      "from_utc_timestamp(to_utc_timestamp(CAST(__arg0 AS TIMESTAMP), __arg1), __arg2)"),
    // string tail (reference string.go, strcmp.go, ord.go)
    "mid" -> tmpl("substring(__arg0, CAST(__arg1 AS INT), CAST(__arg2 AS INT))"),
    "strcmp" -> tmpl(
      "CASE WHEN __arg0 < __arg1 THEN -1 WHEN __arg0 > __arg1 THEN 1 ELSE 0 END"),
    "ord" -> (es => Ord(es.head)),
    // non-numeric strings read their numeric prefix (OCT('abc') is '0');
    // the NULL propagation rides on __arg0 reappearing in the IF guard
    "oct" -> tmpl("IF(__arg0 IS NULL, NULL, " +
      "conv(CAST(CAST(mysql_to_number(__arg0) AS BIGINT) AS STRING), 10, 8))"),
    "format" -> (es =>
      tmpl(s"format_number(__arg0, ${litInt(es(1), "format")})")(es)),
    "quote" -> (es => graft.functions.expressions.QuoteStr(es.head)),
    // MySQL CHAR(n, ...): each arg renders as its code point's char,
    // NULL args are SKIPPED (string_functions.go Char) — Spark's char()
    // is single-arg, so the multi-arg form concatenates per-arg chr()
    // with NULLs coalesced away. >255 code points stay single-byte
    // (mod 256), the documented approximation.
    "char" -> (es =>
      CatalystSqlParser.parseExpression(
        // chr(): same builtin under its alias — spelling it `char` here
        // would re-enter this registration and loop the analyzer.
        // Code point 0 (including '' coerced to 0) is the NUL byte —
        // Spark's chr(0) returns '' instead (string_functions.go Char)
        es.indices.map(i =>
          s"CASE WHEN __arg$i IS NULL THEN '' " +
          s"WHEN coalesce(CAST(__arg$i AS BIGINT), 0) = 0 THEN __nul " +
          s"ELSE chr(CAST(__arg$i AS BIGINT)) END")
          .mkString("concat(", ", ", ")")).transformUp {
        case a: UnresolvedAttribute
            if a.nameParts.length == 1 && a.nameParts.head == "__nul" =>
          Literal(UTF8String.fromString("\u0000"), StringType)
        case a: UnresolvedAttribute
            if a.nameParts.length == 1 && a.nameParts.head.startsWith("__arg") =>
          es(a.nameParts.head.drop(5).toInt)
      }),
    "insert" -> (es => graft.functions.expressions.MySqlInsertStr(es)),
    "truncate" -> (es =>
      graft.functions.expressions.MySqlTruncate(es(0), es(1))),
    "field" -> (es => graft.functions.expressions.MySqlField(es)),
    // type/inet checks
    "is_binary" -> (es => IsBinary(es.head)),
    "is_ipv4_compat" -> (es => Ipv4Embedded(es.head, mapped = false)),
    "is_ipv4_mapped" -> (es => Ipv4Embedded(es.head, mapped = true)),
    "inet6_aton" -> (es => graft.functions.expressions.Inet6Aton(es.head)),
    "inet6_ntoa" -> (es => graft.functions.expressions.Inet6Ntoa(es.head)),
    "is_ipv4" -> (es => RLike(es.head, Literal(UTF8String.fromString(ipv4Rx), StringType))),
    "is_ipv6" -> (es => And(
      IsNotNull(graft.functions.expressions.Inet6Aton(es.head)),
      Not(RLike(es.head, Literal(UTF8String.fromString(ipv4Rx), StringType))))),
    // vector forms (reference sql/types/vector.go: a VECTOR is packed
    // little-endian float32 bytes — HEX/MD5/TO_BASE64 over
    // STRING_TO_VECTOR see the serialized bytes; the distance family
    // coerces any spelling: binary vector, '[…]' text, or array)
    "vec_fromtext" -> (es => vector.VecPack(es.head)),
    "vec_totext" -> (es => vector.VecUnpackText(es.head)),
    "to_vector" -> (es => vector.VecPack(es.head)),
    "from_vector" -> (es => vector.VecUnpackText(es.head)),
    "string_to_vector" -> (es => vector.VecPack(es.head)),
    "vector_to_string" -> (es => vector.VecUnpackText(es.head)),
    "vec_distance" -> (es =>
      vector.VecL2Sq(vector.VecCoerce(es(0)), vector.VecCoerce(es(1)))),
    // 3-arg DISTANCE(a, b, 'EUCLIDEAN'|'COSINE'|'L2_SQUARED') — the
    // metric must be a literal (vector_function_queries.go DISTANCE rows)
    "distance" -> (es => {
      val a = vector.VecCoerce(es(0)); val b = vector.VecCoerce(es(1))
      val metric = es.lift(2).collect {
        case Literal(s: UTF8String, _) => s.toString.toUpperCase
      }.getOrElse("L2_SQUARED")
      metric match {
        case "EUCLIDEAN" => Sqrt(vector.VecL2Sq(a, b))
        case "COSINE" => Subtract(Literal(1.0),
          Divide(vector.VecDot(a, b),
            Multiply(Sqrt(vector.VecDot(a, a)), Sqrt(vector.VecDot(b, b)))))
        case _ => vector.VecL2Sq(a, b)
      }
    }),
    "vec_distance_cosine" -> (es => {
      val a = vector.VecCoerce(es(0)); val b = vector.VecCoerce(es(1))
      Subtract(Literal(1.0),
        Divide(vector.VecDot(a, b),
          Multiply(Sqrt(vector.VecDot(a, a)), Sqrt(vector.VecDot(b, b)))))
    }),
    "vec_distance_l2_squared" -> (es =>
      vector.VecL2Sq(vector.VecCoerce(es(0)), vector.VecCoerce(es(1)))),
    "vec_distance_euclidean" -> (es =>
      Sqrt(vector.VecL2Sq(vector.VecCoerce(es(0)), vector.VecCoerce(es(1))))),
    // base64 pair (reference string.go TO_BASE64/FROM_BASE64)
    "to_base64" -> tmpl("base64(CAST(__arg0 AS BINARY))"),
    "from_base64" -> tmpl("CAST(unbase64(__arg0) AS STRING)"),
    // TIME_TO_SEC (reference time.go; inverse of the registered sec_to_time)
    "time_to_sec" -> tmpl(
      """(CAST(split(__arg0, ':')[0] AS INT)*3600 +
        |CAST(split(__arg0, ':')[1] AS INT)*60 +
        |CAST(split(__arg0, ':')[2] AS INT))""".stripMargin),
    "utc_timestamp" -> tmpl(
      "to_utc_timestamp(current_timestamp(), current_timezone())"),
    // UUID binary forms (reference registry.go uuid_to_bin/bin_to_uuid;
    // swap=1 follows MySQL 8's time-swap layout — UuidFns is the Column
    // twin of these templates)
    "uuid_to_bin" -> (es => {
      // a literal that cannot be a UUID errors at once (reference
      // uuid.go ErrUuidUnableToParse — `UUID_TO_BIN(123)`); string
      // literals validate their shape, non-string non-null literals
      // can never parse
      es.head match {
        case Literal(null, _) =>
        case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) =>
          val bare = u.toString.toLowerCase
            .replace("-", "").replace("{", "").replace("}", "")
          if (!bare.matches("[0-9a-f]{32}"))
            throw new IllegalArgumentException(
              s"Invalid argument to uuid_to_bin: '$u' cannot parse as " +
              "UUID (MySQL ErrUuidUnableToParse)")
        case Literal(b: Array[Byte], _) =>
          // X'…' binary literals coerce like binary STRINGS in MySQL —
          // validate their decoded text, don't reject the type
          val bare = new String(b, "UTF-8").toLowerCase
            .replace("-", "").replace("{", "").replace("}", "")
          if (!bare.matches("[0-9a-f]{32}"))
            throw new IllegalArgumentException(
              s"Invalid argument to uuid_to_bin: binary literal cannot " +
              "parse as UUID (MySQL ErrUuidUnableToParse)")
        case Literal(v, t)
            if t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
               t == org.apache.spark.sql.types.BooleanType =>
          throw new IllegalArgumentException(
            s"Invalid argument to uuid_to_bin: '$v' cannot parse as " +
            "UUID (MySQL ErrUuidUnableToParse)")
        case _ =>
      }
      val h = "lower(replace(__arg0, '-', ''))"
      val sql =
        if (es.length > 1)
          s"""CASE WHEN CAST(__arg1 AS INT) = 1
             |THEN unhex(concat(substring($h,13,4), substring($h,9,4),
             |  substring($h,1,8), substring($h,17,16)))
             |ELSE unhex($h) END""".stripMargin
        else s"unhex($h)"
      tmpl(sql)(es)
    }),
    "bin_to_uuid" -> (es => {
      // numeric literals can never be a 16-byte binary UUID (reference
      // uuid.go ErrUuidUnableToParse — `BIN_TO_UUID(123)`); strings and
      // binaries pass through byte-wise
      es.head match {
        case Literal(v, t)
            if v != null && t.isInstanceOf[
              org.apache.spark.sql.types.NumericType] =>
          throw new IllegalArgumentException(
            s"Invalid argument to bin_to_uuid: '$v' cannot parse as " +
            "UUID (MySQL ErrUuidUnableToParse)")
        case _ =>
      }
      val h0 = "lower(hex(__arg0))"
      def fmt(h: String) =
        s"""concat_ws('-', substring($h,1,8), substring($h,9,4),
           |substring($h,13,4), substring($h,17,4), substring($h,21,12))""".stripMargin
      val swapped =
        s"concat(substring($h0,9,8), substring($h0,5,4), substring($h0,1,4), substring($h0,17,16))"
      val sql =
        if (es.length > 1)
          s"""CASE WHEN CAST(__arg1 AS INT) = 1 THEN ${fmt(s"($swapped)")}
             |ELSE ${fmt(h0)} END""".stripMargin
        else fmt(h0)
      tmpl(sql)(es)
    }),
    "is_uuid" -> tmpl(
      """CASE WHEN __arg0 IS NULL THEN NULL
        |WHEN replace(replace(replace(lower(CAST(__arg0 AS STRING)),
        |  '-', ''), '{', ''), '}', '') RLIKE '^[0-9a-f]{32}$'
        |THEN 1 ELSE 0 END""".stripMargin),
    // charset metadata: strings are UTF-8 here; non-string operands
    // report 'binary' (reference charset.go via CollationCoercibility)
    "charset" -> (es => graft.functions.expressions.CharsetOf(es.head)),
    // COERCIBILITY(expr): MySQL's syntactic taxonomy (reference
    // coercibility.go; collation_coercion.go corpus) — 0 explicit
    // COLLATE, 2 column/binary-convert, 3 system constant, 4 string
    // literal, 5 numeric/temporal, 6 NULL. Resolved from the argument's
    // SHAPE at build time, like the reference's coercibility walk.
    "coercibility" -> (es => Literal(coercibilityOf(es.head))),
    // JSON storage introspection: size of the serialized text form; the
    // engine has no binary JSON slack, so freed space is always 0
    // (reference json_storage_size.go / json_storage_free.go)
    "json_storage_size" -> tmpl("octet_length(CAST(__arg0 AS STRING))"),
    "json_storage_free" -> tmpl("CAST(0 AS BIGINT)"),
    // misc
    "validate_password_strength" -> tmpl(
      """CASE WHEN length(__arg0) < 4 THEN 0
        |WHEN length(__arg0) < 8 THEN 25
        |ELSE 50 +
        |CASE WHEN __arg0 RLIKE '[0-9]' AND __arg0 RLIKE '[a-z]'
        |  AND __arg0 RLIKE '[A-Z]' THEN 25 ELSE 0 END +
        |CASE WHEN __arg0 RLIKE '[0-9]' AND __arg0 RLIKE '[a-z]'
        |  AND __arg0 RLIKE '[A-Z]' AND __arg0 RLIKE '[^a-zA-Z0-9]'
        |  THEN 25 ELSE 0 END END""".stripMargin),
    "database" -> tmpl("current_database()"),
    "schema" -> tmpl("current_database()"),
    // session-info stubs (reference registry.go: connection_id, user,
    // current_user, version, found_rows, row_count, last_insert_id,
    // uuid_short — SURVEY §2.8 "driver-side constants / stub"). An
    // embedded analytics session has one connection and no DML counters,
    // so the MySQL-protocol answers are constants; version is pinned to
    // the compatibility target so client libraries probing
    // `SELECT version()` keep working.
    "version" -> tmpl("'8.0.33-graft'"),
    "connection_id" -> tmpl("CAST(1 AS BIGINT)"),
    "user" -> tmpl("'root@localhost'"),
    "current_user" -> tmpl("'root@localhost'"),
    "session_user" -> tmpl("'root@localhost'"),
    "system_user" -> tmpl("'root@localhost'"),
    "found_rows" -> tmpl("CAST(0 AS BIGINT)"),
    // ICU library version pin (queries.go `select icu_version()`)
    "icu_version" -> tmpl("'73.1'"),
    // out-of-domain inverse trig is NULL in MySQL (queries.go
    // `select acos(-2)`), NaN in Spark
    "acos" -> (es => {
      val a = Cast(es.head, org.apache.spark.sql.types.DoubleType)
      If(Or(LessThan(a, Literal(-1.0)), GreaterThan(a, Literal(1.0))),
        Literal.create(null, org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Acos(a))
    }),
    "asin" -> (es => {
      val a = Cast(es.head, org.apache.spark.sql.types.DoubleType)
      If(Or(LessThan(a, Literal(-1.0)), GreaterThan(a, Literal(1.0))),
        Literal.create(null, org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Asin(a))
    }),
    // deterministic stand-in: n bytes of 0x4a (length-correct; true
    // randomness is a server concern this engine doesn't carry)
    "random_bytes" -> tmpl("unhex(repeat('4a', CAST(__arg0 AS INT)))"),
    // VALUES(col) outside INSERT..ODKU is NULL in MySQL (the ODKU
    // rewriter consumes the in-context form before Spark sees it)
    "values" -> (_ => Literal.create(null,
      org.apache.spark.sql.types.NullType)),
    // MySQL's STD/STDDEV/VARIANCE are the POPULATION forms (reference
    // sql/expression/function/aggregation — STDDEV aliases STDDEV_POP);
    // Spark's stddev/variance are the SAMPLE forms, so the names remap
    "std" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.StddevPop(es.head)),
    "stddev" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.StddevPop(es.head)),
    "variance" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.VariancePop(es.head)),
    "row_count" -> tmpl("CAST(-1 AS BIGINT)"),
    "last_insert_id" -> tmpl("CAST(0 AS BIGINT)"),
    "last_insert_uuid" -> tmpl("CAST(NULL AS STRING)"),
    // 64-bit pseudo-unique id (MySQL composes server_id + epoch + counter;
    // an embedded session derives it from a v4 uuid instead)
    "uuid_short" -> tmpl(
      "CAST(conv(substring(replace(uuid(), '-', ''), 1, 15), 16, 10) AS BIGINT)"),
    // GROUP_CONCAT via Spark 4's listagg aggregate; MySQL's default
    // separator is ',' (ordering, as in MySQL, needs an explicit
    // WITHIN GROUP / ORDER BY to be deterministic). The MySQL clause forms
    // (DISTINCT / ORDER BY / SEPARATOR) arrive pre-rewritten to listagg by
    // SqlRewrite.groupConcat; this entry covers the bare call.
    "group_concat" -> (es =>
      if (es.length == 1) tmpl("listagg(__arg0, ',')")(es)
      else tmpl("listagg(__arg0, __arg1)")(es)),
    // JSON aggregates (reference aggregation/unary_aggs.og.go:566 JSON_ARRAYAGG,
    // json_agg.go JSON_OBJECTAGG — duplicate keys keep the last value, which
    // the Engine session pins via spark.sql.mapKeyDedupPolicy=LAST_WIN)
    // collect_list drops NULL inputs, but MySQL JSON_ARRAYAGG keeps null
    // elements (reference aggregation/unary_agg_buffers.go:702 appends nil);
    // wrapping each value in a struct survives collection, then transform
    // unwraps so the NULLs render as JSON null
    "json_arrayagg" -> tmpl(
      "to_json(transform(collect_list(struct(__arg0 AS v)), s -> s.v))"),
    // zero aggregated rows -> SQL NULL, not '{}' (json_scripts.go
    // "JSON_OBJECTAGG correctly returns null when no rows are present")
    "json_objectagg" -> tmpl(
      "CASE WHEN size(collect_list(struct(__arg0, __arg1))) = 0 THEN NULL " +
      "ELSE to_json(map_from_entries(collect_list(struct(__arg0, __arg1)))) END"),
    // MySQL LEAST/GREATEST return NULL when ANY argument is NULL
    // (reference function/greatest.go); Spark's builtins skip NULLs, so
    // the session registry overrides them with the propagating form.
    "log10" -> (es => graft.functions.expressions.GoLog10(es.head)),
    // MySQL coerces any operand numerically (LOG2(boolean) is legal);
    // built directly — a tmpl'd log2() would resolve back to THIS entry
    "log2" -> (es => org.apache.spark.sql.catalyst.expressions.Log2(
      Cast(es.head, DoubleType))),
    "least" -> (es => If(
      es.map(e => IsNull(e): Expression).reduce(Or(_, _)),
      Literal.create(null, NullType), Least(es))),
    "greatest" -> (es => If(
      es.map(e => IsNull(e): Expression).reduce(Or(_, _)),
      Literal.create(null, NullType), Greatest(es))))

  def register(spark: SparkSession): Unit = {
    val reg = org.apache.spark.sql.GraftBridge.functionRegistry(spark)
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, es => b(es), "scala_udf")
    }
  }
}
