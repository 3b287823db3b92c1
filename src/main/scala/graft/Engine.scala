package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute,
  AttributeReference, BoundReference, InterpretedOrdering,
  InterpretedUnsafeProjection, JoinedRow, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project, SubqueryAlias}
import org.apache.spark.sql.types.LongType
import graft.plans.{FoldLocalRows, Generation, StoredRelation}
import scala.util.control.NonFatal

/** MySQL dialect shim — SURVEY.md §7.2 step 5.
  *
  * Spark SQL already parses most MySQL-isms this engine needs: backtick
  * quoting, `<=>`, `DIV`, `REGEXP`/`RLIKE`, `INTERVAL n unit`. The
  * remaining gaps are pure-syntax rewrites done before handing the text to
  * Catalyst (the reference instead carries a whole vitess parser —
  * sql/planbuilder/parse.go:35; a pre-rewriter is the Spark-first answer):
  *
  *  - `LIMIT offset, count`      -> `LIMIT count OFFSET offset`
  *  - `# comment`                -> `-- comment`
  *  - `STRAIGHT_JOIN`            -> `JOIN` (ordering is Catalyst's job)
  *  - `SQL_CALC_FOUND_ROWS`      -> stripped in the query path, which
  *    captures the un-LIMITed twin for FOUND_ROWS()
  *  - `GROUP_CONCAT(DISTINCT x ORDER BY x SEPARATOR s)` -> `listagg`
  *    (token pass, SqlRewrite.groupConcat)
  *  - `a XOR b` -> `(((a) <> 0) != ((b) <> 0))` with MySQL numeric
  *    truthiness (token pass, SqlRewrite.xor)
  *
  * The rewriter is literal-aware: nothing inside '...', "..." or `...`
  * is touched.
  */
object Dialect {

  /** Set per-statement before the chunk passes run: table DDL keeps its
    * MySQL collation names (the column-def parser records them as
    * catalog metadata and maps to Spark collations itself). */
  private val skipCollateMap = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private def rewriteCode(code: String, pipesAsConcat: Boolean): String = {
    val chained = (if (skipCollateMap.get()) code else rewriteCollate(code))
      .replaceAll("(?i)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+)", "LIMIT $2 OFFSET $1")
      // CHAR(… USING charset) — the charset clause is a no-op here
      // (queries.go:8642 `char(97, 98, 99 using utf8mb4)` -> 'abc')
      .replaceAll("(?i)(\\bCHAR\\s*\\([^()]*?)\\s+USING\\s+[A-Za-z0-9_]+\\s*\\)",
        "$1)")
      .replaceAll("(?i)\\bSTRAIGHT_JOIN\\b", "JOIN")
      // MySQL hex literals: 0xABCD is a binary string (vector_ddl_
      // queries.go inserts packed vectors as 0x…); Spark spells it X'…'
      .replaceAll("\\b0x([0-9A-Fa-f]+)\\b", "X'$1'")
      // COERCIBILITY of a system-constant function is 3; the constant
      // itself substitutes to a literal before the builder could see
      // the shape, so the level folds here (collation_coercion.go)
      .replaceAll("(?i)\\bCOERCIBILITY\\s*\\(\\s*(?:CURRENT_USER|USER|" +
        "SESSION_USER|SYSTEM_USER|VERSION|DATABASE|SCHEMA)\\s*(?:\\(\\s*\\))?" +
        "\\s*\\)", "CAST(3 AS INT)")
      // (SQL_CALC_FOUND_ROWS survives to the query path, which strips
      // it and captures the un-LIMITed twin for FOUND_ROWS())
      // MySQL's 1-row dummy table (reference sql/planbuilder/from.go
      // resolves a missing/dual FROM to it); Spark has no dual
      .replaceAll("(?i)\\bFROM\\s+DUAL\\b", "FROM (SELECT 1) dual")
      // _binary introducer: the charset tag has no Spark meaning — the
      // literal itself carries the bytes
      .replaceAll("(?i)\\b_binary\\s+", "")
      // unary BINARY operator (MySQL shorthand for CAST(x AS BINARY);
      // order_by_group_by_queries.go:89 "Group by BINARY" issue 6179).
      // Identifier operand only: `BINARY(3)` type uses and `AS BINARY)`
      // cast targets don't match (no identifier follows), and DDL
      // attribute keywords after a bare BINARY column type are excluded.
      .replaceAll("(?i)\\bBINARY\\s+(?!(?:NOT|NULL|DEFAULT|PRIMARY|" +
        "UNIQUE|KEY|COMMENT|CHECK|REFERENCES|GENERATED|AS|COLLATE|" +
        "CHARACTER|AUTO_INCREMENT|LOGS)\\b)" +
        "(`[^`]+`|[A-Za-z_][A-Za-z0-9_.]*\\b)(?!\\s*\\()",
        "CAST($1 AS BINARY)")
      // charset introducers (_utf8mb4'x', _latin1 'y'): every string is
      // UTF-8 here, the introducer drops (reference charset literals in
      // sql/planbuilder; charset_collation_engine.go corpus)
      // (the introducer immediately precedes its string literal, i.e. it
      // sits at the END of a literal-split code segment — hence the $)
      .replaceAll("(?i)\\b_(?:utf8mb4|utf8mb3|utf8|latin1|ascii|ucs2|utf16le|utf16|utf32)\\s*$", "")
      // expression-level COLLATE: MySQL collation names map onto Spark's
      // native collation support (below, after the chain)
      // MySQL CAST targets (sql/types coercion names) -> Spark types:
      // SIGNED=BIGINT, UNSIGNED=DECIMAL(20,0) (full uint64 range),
      // bare CHAR/NCHAR=STRING (CHAR(n) passes through, Spark has it).
      // Every rule is anchored on the CAST/CONVERT closing paren so an
      // ordinary projection alias (`SELECT x AS signed`) stays an alias.
      .replaceAll("(?i)\\bAS\\s+SIGNED(\\s+INTEGER)?\\s*\\)", "AS BIGINT)")
      .replaceAll("(?i)\\bAS\\s+UNSIGNED(\\s+INTEGER)?\\s*\\)", "AS DECIMAL(20,0))")
      .replaceAll("(?i)\\bAS\\s+N?CHAR\\s*\\)", "AS STRING)")
      // MySQL DATETIME is wall-clock (no zone): Spark TIMESTAMP_NTZ
      // (fractional-seconds precision drops — Spark NTZ is fixed micros)
      .replaceAll("(?i)\\bAS\\s+DATETIME\\s*(\\(\\d+\\))?\\s*\\)", "AS TIMESTAMP_NTZ)")
      // JSON documents are their serialized text in this engine (the
      // json_* family parses on demand), so CAST(x AS JSON) is the text
      // rendering of x. The closing-paren anchor keeps `SELECT x AS json`
      // aliases untouched.
      .replaceAll("(?i)\\bAS\\s+JSON\\s*\\)", "AS STRING)")
      // MySQL 8 VALUES ROW(...) constructor -> bare tuples
      .replaceAll("(?i)\\bROW\\s*\\(", "(")
      // niladic keyword form: CURRENT_USER without parentheses calls the
      // registered function (Spark's bare CURRENT_USER is the OS user)
      .replaceAll("(?i)\\bCURRENT_USER\\b(?!\\s*\\()", "CURRENT_USER()")
      // ORDER BY -N: a NEGATIVE integer is a constant expression, not a
      // position (queries only treat unsigned ints as ordinals)
      .replaceAll("(?i)(\\bORDER\\s+BY\\s+)-\\s*(\\d+)", "$1(0 - $2)")
      // MySQL logical operators (reference sql/expression/logic.go):
      // || is OR, && is AND, ! is NOT — except under PIPES_AS_CONCAT
      // (sql_mode.go:30), where || is string concat, which is exactly
      // Spark's native ||, so the text passes through untouched. MySQL's
      // ! binds tighter than NOT, but its idiomatic use is
      // parenthesized — the textual swap keeps those exact
      .replaceAll("\\|\\|", if (pipesAsConcat) "||" else " OR ")
      .replaceAll("&&", " AND ")
      .replaceAll("!(?!=)", " NOT ")
      // `t AS OF n` resolves to the Engine.snapshot-pinned view
      .replaceAll("(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+OF\\s+(\\d+)",
        "$1__asof_$2")
    // MySQL names VALUES table-constructor columns column_0, column_1…
    // (0-based); Spark names them col1, col2… (1-based). The generated
    // name pattern is distinctive enough to map directly.
    ColumnNRe.replaceAllIn(chained, m => "col" + (m.group(1).toInt + 1))
  }

  private val ColumnNRe = """(?i)\bcolumn_(\d+)\b""".r

  private val CollateRe = """(?i)\bCOLLATE\s+[`']?([A-Za-z0-9_]+)[`']?""".r

  /** Rewrite `expr COLLATE mysql_name` onto Spark's native collation
    * clause (`expr COLLATE UNICODE_CI_AI` etc. — ICU-backed comparison,
    * grouping and ordering). MySQL names resolve per the reference's
    * collation catalog (sql/collations.go); an unrecognized name raises
    * MySQL error 1273 instead of silently reordering — the strip this
    * replaces gave explicit-COLLATE queries binary order. */
  private def rewriteCollate(code: String): String =
    if (!code.toUpperCase.contains("COLLATE")) code
    // CREATE DATABASE records the MySQL collation NAME as catalog
    // metadata (schemata/SHOW CREATE DATABASE) — don't map it to a
    // Spark collation
    else if ("""(?is)^\s*CREATE\s+(?:DATABASE|SCHEMA)\b""".r
               .findFirstIn(code).isDefined) code
    else CollateRe.replaceAllIn(code,
      m => "COLLATE " + mapCollation(m.group(1)))

  /** Spark collation names this engine passes through unchanged. */
  private val sparkCollations = Set(
    "utf8_binary", "utf8_lcase", "unicode", "unicode_ci", "unicode_ai",
    "unicode_ci_ai")

  private val mysqlCharsets = Set(
    "utf8mb4", "utf8mb3", "utf8", "latin1", "latin2", "latin5", "latin7",
    "ascii", "binary", "ucs2", "utf16", "utf16le", "utf32", "gbk",
    "gb18030", "big5", "cp1250", "cp1251", "cp1256", "cp1257", "cp850",
    "cp852", "cp866", "cp932", "sjis", "ujis", "euckr", "eucjpms", "greek",
    "hebrew", "tis620", "koi8r", "koi8u", "macroman", "macce", "armscii8",
    "geostd8", "keybcs2", "swe7", "dec8", "hp8", "gb2312", "cp1255",
    "latin7")

  // MySQL 8 `utf8mb4_<locale>_0900_…` locales with an ICU counterpart
  // Spark can instantiate (reference sql/collations.go catalog; `la` and
  // exotic tailorings have no ICU locale -> error 1273).
  private val icuLocales = Set(
    "bs", "bg", "cs", "da", "de", "eo", "es", "et", "gl", "hr", "hu",
    "is", "ja", "lt", "lv", "mn", "nb", "nn", "pl", "ro", "ru", "sk",
    "sl", "sr_Latn", "sv", "tr", "vi", "zh")

  private val UcaForm =
    """^(?:([a-z]+(?:_[a-z]+)?)_)?(?:0900|uca1400)_(ai|as)_(ci|cs)(?:_ks)?$""".r

  /** MySQL collation name -> Spark collation name, or MySQL error 1273. */
  private[graft] def mapCollation(raw: String): String = {
    val n = raw.toLowerCase
    def unknown() = throw new IllegalArgumentException(
      s"Unknown collation: '$raw' (MySQL error 1273)")
    if (sparkCollations(n)) return n.toUpperCase
    if (n == "binary") return "UTF8_BINARY"
    val sep = n.indexOf('_')
    if (sep < 0 || !mysqlCharsets(n.substring(0, sep))) unknown()
    val rest = n.substring(sep + 1)
    if (rest == "bin" || rest.endsWith("_bin")) return "UTF8_BINARY"
    rest match {
      case UcaForm(locale, accent, kase) =>
        val base = Option(locale) match {
          case None => "UNICODE"
          case Some(l) =>
            // multi-part MySQL locale tags -> ICU locale ids
            val norm = l match {
              case "de_pb" => "de"
              case "es_trad" => "es"
              case "sr_latn" => "sr_Latn"
              case "mn_cyrl" => "mn"
              // Classical Latin has no ICU tailoring — root UCA is the
              // closest order (documented approximation, not 1273)
              case "la" => ""
              case other => other
            }
            if (norm.isEmpty) return "UNICODE" +
              (if (kase == "ci") "_CI" else "") +
              (if (accent == "ai") "_AI" else "")
            if (!icuLocales(norm)) unknown()
            norm
        }
        base + (if (kase == "ci") "_CI" else "") +
          (if (accent == "ai") "_AI" else "")
      // legacy pre-8.0 collations: every *_ci (general/unicode/swedish/
      // danish/…) compares accent-insensitively (a = á in general_ci)
      case r if r.endsWith("_ci") => "UNICODE_CI_AI"
      // *_cs legacy (latin1_general_cs): case- and accent-sensitive UCA
      case r if r.endsWith("_cs") => "UNICODE"
      case _ => unknown()
    }
  }

  /** Collation catalog rows (name, charset, default?) — the resolvable
    * subset, surfaced by SHOW COLLATION and information_schema.collations
    * (reference sql/collations.go catalog + show.go). */
  def supportedCollations: Seq[(String, String, Boolean)] = {
    val base = Seq(
      ("utf8mb4_0900_ai_ci", "utf8mb4", true),
      ("utf8mb4_0900_as_ci", "utf8mb4", false),
      ("utf8mb4_0900_as_cs", "utf8mb4", false),
      ("utf8mb4_0900_bin", "utf8mb4", false),
      ("utf8mb4_bin", "utf8mb4", false),
      ("utf8mb4_general_ci", "utf8mb4", false),
      ("utf8mb4_unicode_ci", "utf8mb4", false),
      ("latin1_swedish_ci", "latin1", false),
      ("latin1_bin", "latin1", false),
      ("ascii_general_ci", "ascii", false),
      ("binary", "binary", false))
    val locales = icuLocales.toSeq.map(_.toLowerCase).sorted.flatMap { l =>
      Seq((s"utf8mb4_${l}_0900_ai_ci", "utf8mb4", false),
        (s"utf8mb4_${l}_0900_as_cs", "utf8mb4", false))
    }
    base ++ locales
  }

  /** The dialect pass: token-level passes first (each is literal-aware
    * on its own), then the regex chain over each code run. With
    * PIPES_AS_CONCAT, `||` stays Spark's native string concatenation. */
  def rewrite(sql: String, pipesAsConcat: Boolean = false): String = {
    // GROUP_CONCAT(...SEPARATOR...) -> listagg, MySQL XOR truthiness,
    // DATE_ADD/SUB(x, INTERVAL …) -> timestamp arithmetic, CONVERT -> CAST
    val pre = SqlRewrite.optimizerHints(SqlRewrite.forUpdateClause(SqlRewrite.inSubquerySelectList(SqlRewrite.orderlessRankWindow(
      SqlRewrite.tupleCompare(SqlRewrite.tupleSubqueryAll(SqlRewrite.jsonYearCasts(SqlRewrite.wideDecimalLiteralCast(SqlRewrite.quoteWideNumericLiterals(SqlRewrite.convertFn(
        SqlRewrite.dateArith(SqlRewrite.xor(SqlRewrite.infixMod(SqlRewrite.groupConcat(SqlRewrite.groupConcatOrderSubquery(
          SqlRewrite.matchAgainst(SqlRewrite.windowJsonArrayAgg(SqlRewrite.jsonArrows(
            SqlRewrite.hoistParenUnionTail(
              SqlRewrite.hoistNestedWith(SqlRewrite.bitLiterals(sql)))))))))))))))))))))
    // MySQL's ||-as-concat binds tighter than +/- — fold to concat()
    // BEFORE the chunk pass would leave Spark's low-precedence ||
    val pre2 =
      if (pipesAsConcat) SqlRewrite.pipesConcatTight(pre) else pre
    skipCollateMap.set(
      """(?is)^\s*(?:CREATE\s+(?:TEMPORARY\s+)?TABLE|ALTER\s+TABLE)\b""".r
        .findFirstIn(sql).isDefined)
    try mapCode(pre2)(c => rewriteCode(c, pipesAsConcat))
    finally skipCollateMap.set(false)
  }

  /** Apply `f` to each non-literal, non-comment run of `sql`, copying
    * quoted literals ('…', "…", `…`) and comments through verbatim (a `#`
    * comment becomes `--`): a plain replaceAll over full statement text
    * corrupts string literals that happen to contain rewrite-shaped text.
    * Literal and comment bounds come from the one lexer,
    * [[SqlRewrite.literalEnd]] / [[SqlRewrite.commentEnd]]. */
  def mapCode(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    var code = 0 // start of the code run awaiting `f`
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      val end =
        if (SqlRewrite.isQuote(c)) SqlRewrite.literalEnd(sql, i)
        else SqlRewrite.commentEnd(sql, i)
      if (end > i) {
        out.append(f(sql.substring(code, i)))
        if (c == '#') out.append("--").append(sql.substring(i + 1, end))
        else out.append(sql.substring(i, end))
        i = end
        code = i
      } else i += 1
    }
    out.append(f(sql.substring(code))).result()
  }
}

/** Session + catalog façade — the engine's front door, mirroring the
  * reference's `Engine.Query` / catalog surface (engine.go:194,
  * sql/catalog.go, memory backend memory/table.go:48) on top of the Spark
  * session catalog.
  *
  * Tables live as temp views over parquet (reads) or in-memory DataFrames
  * (DDL/DML results). A table small enough for `Tables.fitsBroadcast` is
  * held on the driver as one `plans.StoredRelation` over an immutable
  * Vector of UnsafeRows, the reference's in-memory table
  * (memory/table_data.go): INSERT appends to the stored rows, UPDATE and
  * DELETE evaluate WHERE once per stored row and re-project only the rows
  * they change (`storedGeneration`, `storeGeneration`), and a read's
  * WHERE and projection fold on the driver (`plans.FoldLocalRows`). A
  * larger table takes the frame path: the write builds the new contents
  * as a DataFrame (an INSERT unions its batch onto the old contents) and
  * `replaceTable` re-points the view.
  */
object Engine {
  /** A driver-held generation (`Engine.storedGeneration`) and the
    * positions of the rows a write's WHERE selects, ascending. */
  private[graft] final case class StoredMatch(stored: StoredRelation, matched: IndexedSeq[Int]) {
    def output: Seq[Attribute] = stored.output
    def rows: Vector[UnsafeRow] = stored.gen.rows

    /** The generation of the rows the WHERE leaves alone, in storage
      * order: the runs between matched positions, one step per match. */
    def unmatched: StoredRelation = {
      var kept = Vector.empty[UnsafeRow]
      var from = 0
      matched.foreach { i => kept = kept ++ rows.slice(from, i); from = i + 1 }
      StoredRelation(output, Generation(kept ++ rows.drop(from)))
    }
  }

  /** One INSERT batch after its image (`Engine.imageInsert`): `rows`
    * hold the table's column values, `provided` the (lower-case) columns
    * the statement named. */
  private[graft] final case class InsertBatch(table: String, rows: DataFrame,
      provided: Set[String], fillMissing: Boolean, ignore: Boolean)

  /** The most rows an IGNORE key visit (`Engine.ignoreKeySkips`) brings
    * to the driver from one frame: the visit is row by row, an OLTP
    * shape, not a 100 TB one. */
  private[graft] val DriverVisitRows = 100000

  /** A key value as the driver compares it: a BINARY or VARBINARY value
    * arrives as a byte array, which compares and hashes by reference, so
    * it is wrapped to compare by its bytes. */
  private[graft] def keyValue(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case other => other
  }

  /** A key value as a 1062 message quotes it: a binary value byte by
    * byte, printable ASCII as itself and any other byte as \xHH. */
  private[graft] def entryText(v: Any): String = v match {
    case b: java.nio.ByteBuffer => entryText(b.array)
    case b: Array[Byte] => b.map(x =>
      if (x >= 0x20 && x < 0x7f) x.toChar.toString else f"\\x${x & 0xff}%02X").mkString
    case other => String.valueOf(other)
  }

  /** Exact JVM-global registry of information_schema scaffolding view
    * names (the views live in the shared SparkSession): catalog listings
    * hide these by MEMBERSHIP, never by name prefix, so a user table
    * named `information_schema_foo` stays visible. */
  private[graft] val infoSchemaViews =
    scala.collection.mutable.Set.empty[String]

  /** MySQL 8's information_schema table catalog — the SYSTEM VIEW rows
    * information_schema.tables lists for its own schema (reference
    * information_schema.go table registry; the expected enumeration is
    * pinned by information_schema_queries.go). */
  private[graft] val infoSchemaCatalogTables: Seq[String] = Seq(
    "administrable_role_authorizations", "applicable_roles",
    "character_sets", "check_constraints", "collations",
    "collation_character_set_applicability", "columns",
    "columns_extensions", "column_privileges", "column_statistics",
    "enabled_roles", "engines", "events", "files", "innodb_buffer_page",
    "innodb_buffer_page_lru", "innodb_buffer_pool_stats",
    "innodb_cached_indexes", "innodb_cmp", "innodb_cmpmem",
    "innodb_cmpmem_reset", "innodb_cmp_per_index",
    "innodb_cmp_per_index_reset", "innodb_cmp_reset", "innodb_columns",
    "innodb_datafiles", "innodb_fields", "innodb_foreign",
    "innodb_foreign_cols", "innodb_ft_being_deleted", "innodb_ft_config",
    "innodb_ft_default_stopword", "innodb_ft_deleted",
    "innodb_ft_index_cache", "innodb_ft_index_table", "innodb_indexes",
    "innodb_metrics", "innodb_session_temp_tablespaces", "innodb_tables",
    "innodb_tablespaces", "innodb_tablespaces_brief",
    "innodb_tablestats", "innodb_temp_table_info", "innodb_trx",
    "innodb_virtual", "keywords", "key_column_usage", "optimizer_trace",
    "parameters", "partitions", "plugins", "processlist", "profiling",
    "referential_constraints", "resource_groups", "role_column_grants",
    "role_routine_grants", "role_table_grants", "routines", "schemata",
    "schemata_extensions", "schema_privileges", "statistics",
    "st_geometry_columns", "st_spatial_reference_systems",
    "st_units_of_measure", "tables", "tablespaces",
    "tablespaces_extensions", "tables_extensions", "table_constraints",
    "table_constraints_extensions", "table_privileges", "triggers",
    "user_attributes", "user_privileges", "views", "view_routine_usage",
    "view_table_usage")

  /** Monotonic per-JVM engine id: durable-state paths (snapshots, DML
    * materializations) are scoped per Engine instance so two engines on
    * one SparkSession never overwrite each other's warehouse files (an
    * earlier engine's catalog views may still pin the old generation). */
  private val idCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def nextId(): Long = idCounter.incrementAndGet()
  /** Declared FOREIGN KEY (reference sql/plan/ddl.go fk defs +
    * foreign_key_handler.go enforcement walk). */
  final case class ForeignKey(name: String, child: String,
      childCols: Seq[String], parent: String, parentCols: Seq[String],
      onDelete: String, onUpdate: String)

  /** One diagnostics-area entry (reference sql/session.go Warning:
    * Level/Code/Message, fed by Context.Warn at session.go:680). */
  final case class Warning(level: String, code: Int, message: String)

  /** MySQL keeps at most max_error_count (default 64) warning ROWS while
    * warning_count still reports the true total. */
  private val MaxStoredWarnings = 64

  private def tsvResource(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream("/" + name)
    if (in == null) Seq.empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filterNot(_.startsWith("#"))
        .map(_.split("\t", -1)).toList
      finally src.close()
    }
  }

  /** MySQL's 286-row collation catalog (factual MySQL 8.0 data; shape
    * follows reference sql/collations.go:395 collationArray):
    * (id, name, charset, isDefault, isCompiled, sortlen, pad). */
  lazy val collationCatalog: Seq[(Long, String, String, Boolean, Boolean, Long, String)] =
    tsvResource("mysql_collations.tsv").map(f =>
      (f(0).toLong, f(1), f(2), f(3) == "true", f(4) == "true",
        f(5).toLong, f(6)))

  /** information_schema.keywords: MySQL's 747-entry keyword list
    * (reference sql/information_schema/constants.go keywordsArray —
    * including its one zero-value slot, which the reference emits). */
  lazy val keywordCatalog: Seq[(String, Int)] =
    tsvResource("mysql_keywords.tsv").map(f => (f(0), f(1).toInt))

  /** information_schema.st_units_of_measure (EPSG unit facts). */
  lazy val unitsCatalog: Seq[(String, String, String, Double)] =
    tsvResource("mysql_units_of_measure.tsv").map(f =>
      (f(0), f(1), f(2), f(3).toDouble))

  /** information_schema.st_spatial_reference_systems — the EPSG entries
    * MySQL ships that the corpus reads (top srs_ids + SRID 0). */
  lazy val srsCatalog: Seq[(String, Long, String, Long, String, String)] =
    tsvResource("mysql_srs.tsv").map(f =>
      (f(0), f(1).toLong, f(2), f(3).toLong, f(4),
        if (f.length > 5) f(5) else ""))

  /** System tables rendered empty-but-present with MySQL column shapes
    * (innodb_* family, plugins, partitions, role_*, …): JDBC/BI metadata
    * probes SELECT * these and only need the table to resolve. */
  lazy val infoSchemaEmptyTables: Seq[(String, Seq[String])] =
    tsvResource("mysql_infoschema_empty.tsv").map(f =>
      (f(0), f(1).split(",").toSeq))
}

class Engine(val spark: SparkSession) {
  import Engine.ForeignKey

  private val engineId: Long = Engine.nextId()

  // MySQL arithmetic/cast semantics: x/0 is NULL, out-of-range casts
  // saturate/NULL — never runtime errors (reference sql/types coercion).
  // Spark 4 defaults to ANSI, which throws instead; the Engine session
  // runs the MySQL-faithful non-ANSI mode.
  spark.conf.set("spark.sql.ansi.enabled", "false")
  // MySQL JSON_OBJECTAGG keeps the LAST value for a duplicate key
  // (reference sql/expression/function/aggregation/json_agg.go); Spark's
  // default duplicate-map-key policy is EXCEPTION.
  spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
  // reads of driver-held rows (a StoredRelation's Filter/Project chain,
  // Sort, Aggregate, Union) fold to one LocalRelation on the driver
  // (plans.FoldLocalRows); Spark runs this batch last, and
  // ConvertToLocalRelation in it folds what sits above
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    .extraOptimizations = Seq(graft.plans.FoldLocalRows(spark),
      org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation)
  // Spark's implicit lateral column aliases stay ON: MySQL would reject
  // a sibling projection alias reference (ErrMisusedAlias), but the
  // engine's FROM-less-subquery HAVING rewrite flattens legal MySQL
  // outer-alias references into exactly that lateral form, so disabling
  // LCA trades one error-shape parity for a working resolution feature
  // (divergence pinned in ReferenceAliasCorpusSpec).

  functions.expressions.register(spark)
  functions.json.register(spark)
  functions.spatial.register(spark)
  functions.MySqlFormat.register(spark)
  functions.MiscFns.register(spark)
  functions.RegexpFns.register(spark)
  // session-bound overrides: the builder closure reads THIS engine's
  // DML counters at analysis time (reference session.go lastQueryInfo)
  locally {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val reg = org.apache.spark.sql.GraftBridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction("last_insert_id",
      es =>
        if (es.isEmpty) Literal(lastInsertIdVal)
        else {
          // LAST_INSERT_ID(expr) returns expr and seeds the session
          // value; a literal seed is honored at analysis time
          es.head match {
            case Literal(v: Long, _) => lastInsertIdVal = v
            case Literal(v: Int, _) => lastInsertIdVal = v.toLong
            case _ =>
          }
          es.head
        },
      "scala_udf")
    reg.createOrReplaceTempFunction("row_count",
      _ => Literal(rowCountVal), "scala_udf")
    // FOUND_ROWS(): rows the last SELECT returned (pre-LIMIT under
    // SQL_CALC_FOUND_ROWS); UPDATE statements store their matched
    // count (reference sql/plan/process.go:370, rowexec/dml_iters
    // .go:761). The count is computed LAZILY from the captured
    // analyzed frame — the analytics path never pays a count() unless
    // found_rows() is actually called.
    reg.createOrReplaceTempFunction("found_rows",
      _ => Literal(foundRowsNow()), "scala_udf")
    reg.createOrReplaceTempFunction("last_insert_uuid",
      _ => Literal(lastInsertUuidVal), "scala_udf")
    // VALIDATE_PASSWORD_STRENGTH (reference sql/expression/function/
    // hash.go:526): 0/25/50/75/100 ladder against the session-effective
    // validate_password.* component variables. Literal passwords only —
    // the whole corpus surface; the vars read at analysis time.
    reg.createOrReplaceTempFunction("validate_password_strength", es => {
      def gv(n: String): Int =
        sysVarOverrides.getOrElse(n, systemVars(n))
          .stripPrefix("'").stripSuffix("'").toDouble.toInt
      es.head match {
        case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) =>
          val pw = u.toString
          var strength = 0
          if (pw.length >= 4) {
            strength += 25
            if (pw.length >= gv("validate_password.length")) {
              strength += 25
              var num = gv("validate_password.number_count")
              var upper = gv("validate_password.mixed_case_count")
              var lower = upper
              var special = gv("validate_password.special_char_count")
              pw.foreach { c =>
                if (c.isDigit) num -= 1
                else if (c.isUpper) upper -= 1
                else if (c.isLower) lower -= 1
                else special -= 1
              }
              if (num <= 0 && upper <= 0 && lower <= 0 && special <= 0)
                strength += 50 // MEDIUM met; dictionary check always passes
            }
          }
          Literal(strength)
        case Literal(null, _) =>
          Literal.create(null, org.apache.spark.sql.types.IntegerType)
        case other =>
          // column argument: same ladder as a SQL expression, with the
          // session-effective component variables baked in at analysis
          // time (ASCII character classes — the corpus surface)
          val L = gv("validate_password.length")
          val nC = gv("validate_password.number_count")
          val mC = gv("validate_password.mixed_case_count")
          val sC = gv("validate_password.special_char_count")
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(
              s"""CASE WHEN __pw IS NULL THEN CAST(NULL AS INT)
                 |WHEN length(__pw) < 4 THEN 0
                 |WHEN length(__pw) < $L THEN 25
                 |WHEN length(regexp_replace(__pw, '[^0-9]', '')) >= $nC
                 |  AND length(regexp_replace(__pw, '[^A-Z]', '')) >= $mC
                 |  AND length(regexp_replace(__pw, '[^a-z]', '')) >= $mC
                 |  AND length(regexp_replace(__pw, '[0-9A-Za-z]', '')) >= $sC
                 |THEN 100 ELSE 50 END""".stripMargin)
            .transformUp {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                  if a.nameParts == Seq("__pw") => other
            }
      }
    }, "scala_udf")
    // Named user locks (reference sql/function/registry.go get_lock
    // family): a single-session engine resolves them against an
    // in-memory registry at ANALYSIS time — literal lock names only,
    // which is the whole observed surface (queries.go lock blocks).
    def litName(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[String] = e match {
      case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(u.toString)
      case _ => None
    }
    reg.createOrReplaceTempFunction("get_lock", es => {
      litName(es.head).foreach(n =>
        lockOpOncePerStatement("get", n) {
          namedLocks(n) = namedLocks.getOrElse(n, 0) + 1
        })
      Literal(1)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("is_free_lock", es =>
      Literal(if (litName(es.head).exists(namedLocks.contains)) 0 else 1),
      "scala_udf")
    reg.createOrReplaceTempFunction("is_used_lock", es =>
      if (litName(es.head).exists(namedLocks.contains)) Literal(1L)
      else Literal.create(null, org.apache.spark.sql.types.LongType),
      "scala_udf")
    reg.createOrReplaceTempFunction("release_lock", es =>
      litName(es.head) match {
        // releasedThisStatement keeps the result stable when the same
        // statement is analyzed again after the side effect applied
        case Some(n) if namedLocks.contains(n) ||
            releasedThisStatement(n) =>
          lockOpOncePerStatement("release", n) { namedLocks.remove(n) }
          Literal(1)
        case _ => Literal.create(null, org.apache.spark.sql.types.IntegerType)
      }, "scala_udf")
    reg.createOrReplaceTempFunction("release_all_locks", _ => {
      // count captured before the (once-per-statement) clear so a
      // re-analysis of the same statement reports the same number
      lockOpOncePerStatement("release_all", "*") {
        releaseAllCount = namedLocks.size
        namedLocks.clear()
      }
      Literal(releaseAllCount)
    }, "scala_udf")
    // SLEEP(n) blocks the task for n seconds, then returns 0
    reg.createOrReplaceTempFunction("sleep",
      es => graft.functions.expressions.MySqlSleep(es.head), "scala_udf")
    // SYSDATE() reads the wall clock at each evaluation (NOW() stays
    // fixed at statement start)
    reg.createOrReplaceTempFunction("sysdate",
      _ => graft.functions.expressions.SysDate(), "scala_udf")
    // DATABASE()/SCHEMA() read the SESSION's selected database — NULL
    // after the current database is dropped (dbddl.go), the display-case
    // name otherwise. Resolved at analysis time like the lock functions.
    def dbLit(): Literal =
      if (sessionDb == null)
        Literal(null, org.apache.spark.sql.types.StringType)
      else Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString(sessionDb), org.apache.spark.sql.types.StringType)
    reg.createOrReplaceTempFunction("database", _ => dbLit(), "scala_udf")
    reg.createOrReplaceTempFunction("schema", _ => dbLit(), "scala_udf")
  }

  private val namedLocks = scala.collection.mutable.Map.empty[String, Int]
  // The lock functions run their side effects during expression
  // RESOLUTION (single-session engine, literal lock names). Any path
  // that analyzes a statement more than once — EXPLAIN, error-retry
  // re-entry, view re-resolution — would double-acquire or
  // double-release, so each (op, name) applies at most once per
  // top-level statement. Known residual divergences vs MySQL, both
  // outside the observed corpus surface: two get_lock('x') calls in ONE
  // statement count once, and a statement that fails after analysis
  // still acquires.
  private var lockStmtSeq = -1L
  private val lockOpsApplied = scala.collection.mutable.Set.empty[(String, String)]
  private def lockOpOncePerStatement(op: String, name: String)(body: => Unit): Unit = {
    if (lockStmtSeq != stmtSeq) { lockOpsApplied.clear(); lockStmtSeq = stmtSeq }
    if (lockOpsApplied.add((op, name))) body
  }
  private def releasedThisStatement(name: String): Boolean =
    lockStmtSeq == stmtSeq && lockOpsApplied.contains(("release", name))
  private var releaseAllCount = 0

  /** MySQL substring-TRIM semantics (TRIM('bar' FROM s) removes the
    * string, not Spark's character-set reading). Applied to the ANALYZED
    * plan, before the optimizer's constant folding can evaluate a literal
    * trim with the wrong semantics.
    *
    * A FROM-less SELECT (a Project over OneRowRelation) reads the dual
    * table instead: a one-row, zero-column LocalRelation, which the
    * optimizer folds to its result row (ConvertToLocalRelation), so the
    * statement runs no job (the reference answers it from its one-row
    * memory/dual_table.go). Only deterministic projections without
    * subqueries fold: RAND() keeps its per-execution value, and a scalar
    * subquery keeps the OneRowRelation OptimizeOneRowRelationSubquery
    * matches. */
  private def mysqlTrimSemantics(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Project}
    val plan = df.queryExecution.analyzed
    // strip BEFORE the JSON rule: native comparisons only exist for it
    // to match once the adaptive MySqlCompare nodes have been reverted
    val rewritten = functions.WideDecCompareRule(
      functions.expressions.JsonNumericCompareRule(
        functions.MySqlArithRewrite.stripIdentity(
          functions.expressions.MySqlCiLocateRule(
            functions.expressions.MySqlUnixTsScaleRule(
              functions.expressions.MySqlTrimRule(plan)))))) match {
      case p @ Project(list, _: OneRowRelation) if list.forall(e => e.deterministic &&
          !org.apache.spark.sql.catalyst.expressions.SubqueryExpression.hasSubquery(e)) =>
        p.copy(child = LocalRelation(Nil, Seq(org.apache.spark.sql.catalyst.InternalRow.empty)))
      case other => other
    }
    if (rewritten eq plan) df
    else org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
  }

  // ---- diagnostics area (reference sql/session.go:680 Context.Warn /
  // Session.Warn). Every statement clears it at dispatch except the
  // reads — SHOW WARNINGS/ERRORS and @@warning_count — so a client can
  // inspect the previous statement's diagnostics (MySQL's documented
  // lifecycle). The stored list caps at 64 rows (max_error_count
  // default) while the count keeps the true total.
  private val warningBuf =
    scala.collection.mutable.ArrayBuffer.empty[Engine.Warning]
  private var warningTotal = 0
  private[graft] def clearDiagnostics(): Unit = {
    warningBuf.clear(); warningTotal = 0
  }
  private[graft] def warn(code: Int, message: String): Unit =
    addDiag("Warning", code, message)
  private[graft] def warnError(code: Int, message: String): Unit =
    addDiag("Error", code, message)
  private def addDiag(level: String, code: Int, message: String): Unit = {
    warningTotal += 1
    if (warningBuf.size < Engine.MaxStoredWarnings)
      warningBuf += Engine.Warning(level, code, message)
  }
  /** Bulk feed for distributed write paths: one aggregate count becomes
    * n identical warnings (stored rows still cap at 64). */
  private[graft] def warnN(n: Long, code: Int, message: String): Unit = {
    warningTotal += n.toInt
    var stored = 0L
    while (stored < n && warningBuf.size < Engine.MaxStoredWarnings) {
      warningBuf += Engine.Warning("Warning", code, message); stored += 1
    }
  }
  /** Row-numbered bulk feed (LOAD DATA's per-row 1261/1262): stores the
    * first rows' numbered messages up to the cap, counts all of them. */
  private[graft] def warnRows(n: Long, code: Int,
      msgForRow: Long => String): Unit = {
    warningTotal += n.toInt
    var i = 1L
    while (i <= n && warningBuf.size < Engine.MaxStoredWarnings) {
      warningBuf += Engine.Warning("Warning", code, msgForRow(i)); i += 1
    }
  }
  private[graft] def warnings: Seq[Engine.Warning] = warningBuf.toList
  private[graft] def warningCount: Int = warningTotal
  private[graft] def errorCount: Int = warningBuf.count(_.level == "Error")

  /** Session user variables (@name — reference sql/types/system_*.go /
    * session state). Rendered as literals into the query text, outside
    * string literals only. */
  private val sessionVars = scala.collection.mutable.Map.empty[String, String]

  /** sql_mode session state (reference sql/sql_mode.go). Modeled modes:
    * ANSI_QUOTES (double-quoted tokens are identifiers), PIPES_AS_CONCAT
    * (`||` is string concat — Spark's native `||` — instead of MySQL's
    * logical OR), and the composite ANSI (which includes both,
    * sql_mode.go:36). STRICT_TRANS_TABLES, STRICT_ALL_TABLES and
    * TRADITIONAL select strict writes (`strictWrites`): a value that
    * fails its column's conversion, range, NOT NULL or length check is
    * an error, where without them it coerces with a warning, as under
    * IGNORE (settleWrite). NO_AUTO_VALUE_ON_ZERO keeps an explicit 0 in
    * an AUTO_INCREMENT column; NO_ZERO_* and the other recognized modes
    * are accepted and read back through @@sql_mode. */
  private var ansiQuotes = false
  private var pipesAsConcat = false
  private var sqlModeStr = // the reference's default set, same order
    "NO_ENGINE_SUBSTITUTION,ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES"

  private[graft] def sqlModeString: String = sqlModeStr

  // the reference's recognized mode vocabulary (sql/sql_mode.go:28-53);
  // an unknown token is MySQL error 1231
  private val recognizedSqlModes = Set(
    "REAL_AS_FLOAT", "PIPES_AS_CONCAT", "ANSI_QUOTES", "IGNORE_SPACE",
    "ONLY_FULL_GROUP_BY", "NO_UNSIGNED_SUBTRACTION", "NO_DIR_IN_CREATE",
    "ANSI", "NO_AUTO_VALUE_ON_ZERO", "NO_BACKSLASH_ESCAPES",
    "STRICT_TRANS_TABLES", "STRICT_ALL_TABLES", "NO_ZERO_IN_DATE",
    "NO_ZERO_DATE", "ALLOW_INVALID_DATES", "ERROR_FOR_DIVISION_BY_ZERO",
    "TRADITIONAL", "HIGH_NOT_PRECEDENCE", "NO_ENGINE_SUBSTITUTION",
    "PAD_CHAR_TO_FULL_LENGTH", "TIME_TRUNCATE_FRACTIONAL")

  // strict writes (see above; script_queries.go "charset validation
  // strict vs non-strict mode"). The default set includes
  // STRICT_TRANS_TABLES, matching the reference.
  private var strictWrites = true
  private[graft] def strictWriteMode: Boolean = strictWrites

  def setSqlMode(modes: String): Unit = {
    val set = modes.toUpperCase.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet
    val unknown = set -- recognizedSqlModes
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"Variable 'sql_mode' can't be set to the value of " +
        s"'${unknown.head}' (MySQL error 1231)")
    sqlModeStr = modes
    ansiQuotes = set.contains("ANSI_QUOTES") || set.contains("ANSI")
    pipesAsConcat = set.contains("PIPES_AS_CONCAT") || set.contains("ANSI")
    strictWrites = set.contains("STRICT_TRANS_TABLES") ||
      set.contains("STRICT_ALL_TABLES") || set.contains("TRADITIONAL")
  }

  private def applyAnsiQuotes(sql: String): String =
    if (!ansiQuotes || !sql.contains("\"")) sql
    else {
      val out = new StringBuilder
      var i = 0
      val n = sql.length
      while (i < n) {
        val c = sql.charAt(i)
        if (c == '"') { // ANSI identifier -> backticks
          i += 1
          val ident = new StringBuilder
          while (i < n && (sql.charAt(i) != '"' ||
                 (i + 1 < n && sql.charAt(i + 1) == '"' && { i += 1; true }))) {
            ident.append(sql.charAt(i)); i += 1
          }
          i = math.min(i + 1, n)
          out.append('`').append(ident.result().replace("`", "``")).append('`')
        } else { // '…', `…` and comments copy verbatim
          val end =
            if (SqlRewrite.isQuote(c)) SqlRewrite.literalEnd(sql, i)
            else math.max(SqlRewrite.commentEnd(sql, i), i + 1)
          out.underlying.append(sql, i, end)
          i = end
        }
      }
      out.result()
    }

  /** SET time_zone (reference time_queries.go; sysvar time_zone): maps
    * onto spark.sql.session.timeZone, so now()/from_unixtime/date
    * rendering follow the session zone like MySQL. MySQL offset forms
    * normalize to [+-]HH:MM; 'SYSTEM' restores the JVM default; an
    * unresolvable name is MySQL error 1298. */
  def setTimeZone(raw: String): Unit = {
    val v = raw.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")
    val resolved =
      if (v.equalsIgnoreCase("SYSTEM")) java.util.TimeZone.getDefault.getID
      else {
        val cand = """^([+-])(\d{1,2}):(\d{2})$""".r.findFirstMatchIn(v)
          .map(m => f"${m.group(1)}${m.group(2).toInt}%02d:${m.group(3)}")
          .getOrElse(v)
        try { java.time.ZoneId.of(cand); cand }
        catch {
          case _: Exception => throw new IllegalArgumentException(
            s"Unknown or incorrect time zone: '$v' (MySQL error 1298)")
        }
      }
    // @@time_zone reads back what was set — MySQL stores the setting
    // (offsets normalized), not the resolved zone (time_queries.go
    // "set timezone to SYSTEM" round-trips SYSTEM through a @var)
    tzDisplay = if (v.equalsIgnoreCase("SYSTEM")) "SYSTEM" else resolved
    spark.conf.set("spark.sql.session.timeZone", resolved)
  }

  /** Live @@time_zone display value (sysvar time_zone; default SYSTEM). */
  private var tzDisplay: String = "SYSTEM"

  /** SQL-text prepared statements (PREPARE/EXECUTE/DEALLOCATE —
    * reference sql/plan/prepare.go; Engine.queryPrepared is the API
    * twin). Stored verbatim; EXECUTE re-enters the full query path. */
  private[graft] val preparedStmts =
    scala.collection.mutable.Map.empty[String, String]

  /** session @var in its stored RENDERED form (a SQL literal — quoted
    * string / bare number / NULL), for splicing back into statements. */
  private[graft] def varRendered(name: String): Option[String] =
    sessionVars.get(name)

  /** session @var as raw text (unquoted literal) — PREPARE FROM @v. */
  private[graft] def getVar(name: String): Option[String] =
    sessionVars.get(name).map { v =>
      if (v.startsWith("'") && v.endsWith("'"))
        v.substring(1, v.length - 1).replace("''", "'")
      else v
    }

  /** session @var as a typed value — EXECUTE ... USING @v. */
  private[graft] def getVarRaw(name: String): Option[Any] =
    sessionVars.get(name).map { v =>
      if (v.startsWith("'") && v.endsWith("'"))
        v.substring(1, v.length - 1).replace("''", "'")
      else if (v.equalsIgnoreCase("NULL")) null
      else
        try java.lang.Long.valueOf(v)
        catch {
          case _: NumberFormatException =>
            try java.lang.Double.valueOf(v)
            catch { case _: NumberFormatException => v }
        }
    }

  /** SET @name = value. Strings are quoted; numbers pass through;
    * null renders as the SQL NULL token (not the 4-char string). */
  def setVar(name: String, value: Any): Unit = {
    val rendered = value match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case other => String.valueOf(other)
    }
    sessionVars(name) = rendered
  }

  // @@sysvar reads (reference sql/variables/sysvars.go; `SELECT
  // @@version_comment` is the first thing the mysql CLI sends). Values
  // are SQL literals; unknown variables read as NULL.
  private val systemVars: Map[String, String] = Map(
    "version" -> "'8.0.31'", "version_comment" -> "'Dolt'",
    "version_compile_machine" -> "''", "version_compile_os" -> "''",
    "version_compile_zlib" -> "''",
    "windowing_use_high_precision" -> "'ON'",
    "back_log" -> "-1", "auto_increment_offset" -> "1",
    "sql_mode" -> "''", "autocommit" -> "1",
    "character_set_client" -> "'utf8mb4'",
    "character_set_connection" -> "'utf8mb4'",
    "character_set_results" -> "'utf8mb4'",
    "collation_connection" -> "'utf8mb4_0900_ai_ci'",
    "collation_server" -> "'utf8mb4_0900_bin'",
    "character_set_server" -> "'utf8mb4'",
    // port vars are BIGINT-typed in the catalog (sysvars.go) — the
    // NULLIF keeps a CTAS column nullable like the reference's describe
    "port" -> "CAST(NULLIF(3306, 0) AS BIGINT)",
    "admin_port" -> "CAST(NULLIF(33062, 0) AS BIGINT)",
    "max_allowed_packet" -> "67108864", "lower_case_table_names" -> "0",
    "net_write_timeout" -> "60", "wait_timeout" -> "28800",
    "max_connections" -> "151", "timestamp" -> "0",
    "auto_increment_increment" -> "1", "sql_select_limit" -> "2147483647",
    "server_id" -> "1", "foreign_key_checks" -> "1",
    "default_table_encryption" -> "0", "lc_messages" -> "'en_US'",
    "tmpdir" -> "'/tmp'", "long_query_time" -> "10",
    "innodb_buffer_pool_size" -> "134217728", "max_user_connections" -> "0",
    "transaction_isolation" -> "'REPEATABLE-READ'",
    "time_zone" -> "'SYSTEM'", // reads live via tzDisplay
    "secure_file_priv" -> "NULL",
    // replication/encryption catalog entries a client may probe
    // (queries.go SHOW VARIABLES LIKE 'gtid%' / '%mode' blocks)
    "gtid_executed" -> "''", "gtid_executed_compression_period" -> "0",
    "gtid_mode" -> "'OFF'", "gtid_next" -> "'AUTOMATIC'",
    "gtid_owned" -> "''", "gtid_purged" -> "''",
    "gtid_domain_id" -> "0", "gtid_seq_no" -> "0",
    "block_encryption_mode" -> "'aes-128-ecb'",
    // validate_password component (system_variables.go:2968; the
    // strength function reads these)
    "validate_password.length" -> "8",
    "validate_password.number_count" -> "1",
    "validate_password.mixed_case_count" -> "1",
    "validate_password.special_char_count" -> "1",
    "innodb_autoinc_lock_mode" -> "2", "offline_mode" -> "'OFF'",
    "pseudo_slave_mode" -> "'OFF'", "rbr_exec_mode" -> "'STRICT'",
    "ssl_fips_mode" -> "'OFF'")

  /** Session overrides from SET @@x = v (reference
    * sql/variables/sysvars.go mutable session scope). Values are SQL
    * literals; `SET ... = DEFAULT` clears back to the builtin. */
  private val sysVarOverrides =
    scala.collection.mutable.Map.empty[String, String]

  /** (name, display value) for SHOW VARIABLES — session overrides win,
    * sql_mode reads live state, quotes stripped for display. */
  private[graft] def allSystemVars: Seq[(String, String)] =
    (systemVars.keySet ++ sysVarOverrides.keySet).toSeq.sorted.map { k =>
      val raw = k match {
        case "sql_mode" => sqlModeStr
        case "time_zone" => tzDisplay
        case _ => sysVarOverrides.getOrElse(k, systemVars(k))
      }
      val v = raw.stripPrefix("'").stripSuffix("'")
      // boolean-typed vars display ON/OFF in SHOW VARIABLES while
      // @@autocommit reads stay numeric (MySQL's dual rendering)
      val shown =
        if (k == "autocommit" || k == "foreign_key_checks")
          (if (v == "1") "ON" else if (v == "0") "OFF" else v)
        else v
      k -> shown
    }

  /** Variables settable ONLY with SET GLOBAL (MySQL error 1229). */
  private val globalOnlyVars = Set(
    "validate_password.length", "validate_password.number_count",
    "validate_password.mixed_case_count",
    "validate_password.special_char_count")

  private[graft] def setSystemVar(name0: String, rawValue: String,
                                  isGlobal: Boolean = true): Unit = {
    val name = name0.toLowerCase
    if (!isGlobal && globalOnlyVars(name))
      throw new IllegalArgumentException(
        s"Variable '$name' is a GLOBAL variable and should be set with " +
        "SET GLOBAL (MySQL error 1229)")
    // MySQL error 1193 (ER_UNKNOWN_SYSTEM_VARIABLE): assigning a name
    // outside the catalog must not mint a phantom variable that would
    // then surface in SHOW VARIABLES (variable_queries.go unknown-var
    // cases). sql_mode/time_zone/names take earlier dispatch branches.
    if (!systemVars.contains(name))
      throw new IllegalArgumentException(
        s"Unknown system variable '$name' (MySQL error 1193)")
    val v = rawValue.trim
    if (v.equalsIgnoreCase("DEFAULT")) { sysVarOverrides.remove(name); return }
    val unq = v.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")
    // boolean spellings normalize to 1/0 (variable_queries.go "set
    // system variable ON / OFF" and the quoted true/false block)
    val norm = unq.toLowerCase match {
      case "on" | "true" => "1"
      case "off" | "false" => "0"
      case _ =>
        if (v.startsWith("'") || v.startsWith("\""))
          "'" + unq.replace("'", "''") + "'"
        else if (v.matches("^-?\\d+(\\.\\d+)?$") ||
            v.equalsIgnoreCase("NULL")) v
        else "'" + v.replace("'", "''") + "'" // bareword string value
    }
    sysVarOverrides(name) = norm
    // character_set_server couples collation_server to the charset's
    // default collation (system_variables.go charset/collation pairing)
    if (name == "character_set_server") {
      val cs = norm.stripPrefix("'").stripSuffix("'")
      Engine.collationCatalog.find(c => c._3 == cs && c._4)
        .foreach(c => sysVarOverrides("collation_server") = s"'${c._2}'")
    }
  }

  // Both substitutions run through Dialect.mapCode so @@name / @name text
  // inside string literals stays untouched (SELECT '@@version' returns the
  // 9-char literal; the reference resolves @@vars post-parse, never inside
  // strings — sql/planbuilder).
  private def substituteSysVars(sql: String): String =
    // SET @@x = … must reach the DML dispatcher intact (assignment, not
    // read); LOAD DATA item lists reject @@vars with their own syntax
    // error (load_queries.go "user var alias edge case")
    if (!sql.contains("@@") || sql.trim.toUpperCase.startsWith("SET") ||
        sql.trim.toUpperCase.startsWith("LOAD")) sql
    else Dialect.mapCode(sql) { code =>
      // DOTTED catalog names first (validate_password.length …): the
      // generic single-segment regex would otherwise strand ".length"
      // as a field extraction over the substituted value
      val dottedSubst = systemVars.keysIterator.filter(_.contains("."))
        .foldLeft(code) { (acc, n) =>
          ("(?i)@@(?:session\\.|global\\.)?" +
            java.util.regex.Pattern.quote(n) + "\\b").r
            .replaceAllIn(acc, java.util.regex.Matcher.quoteReplacement(
              sysVarOverrides.getOrElse(n, systemVars(n))))
        }
      """@@([Ss][Ee][Ss][Ss][Ii][Oo][Nn]\.|[Gg][Ll][Oo][Bb][Aa][Ll]\.)?([A-Za-z_][A-Za-z0-9_]*)""".r
        .replaceAllIn(dottedSubst, m => java.util.regex.Matcher.quoteReplacement({
          // @@global.x reads the builtin default — SET writes are
          // session-scoped here (system_variables.go scope split)
          val isGlobal = Option(m.group(1))
            .exists(_.toLowerCase.startsWith("g"))
          m.group(2).toLowerCase match {
            case "sql_mode" => s"'$sqlModeStr'" // live session state
            case "time_zone" => s"'$tzDisplay'"
            case "warning_count" => warningCount.toString // live diagnostics
            case "error_count" => errorCount.toString
            case other if isGlobal => systemVars.getOrElse(other, "NULL")
            case other => sysVarOverrides.getOrElse(other,
              systemVars.getOrElse(other, "NULL"))
          }
        }))
    }

  private def substituteVars(sql: String): String = {
    val s0 = substituteSysVars(sql)
    // SET / PREPARE / EXECUTE / LOAD consume @vars themselves (SET's
    // target must stay `@name` for the DML dispatcher — substituting an
    // EXISTING var's value into its own re-assignment corrupts the
    // statement; PREPARE FROM @v and EXECUTE USING @v read raw; LOAD
    // DATA item lists bind per-row @cols)
    val head = s0.trim.takeWhile(!_.isWhitespace).toUpperCase
    if (head == "SET" || head == "PREPARE" || head == "EXECUTE" ||
        head == "DEALLOCATE" || head == "LOAD") return s0
    if (!s0.contains("@")) return s0
    val subst =
      if (sessionVars.isEmpty) s0
      else Dialect.mapCode(s0) { code =>
        sessionVars.foldLeft(code) { case (acc, (n, v)) =>
          acc.replaceAll("@" + java.util.regex.Pattern.quote(n) + "\\b",
            java.util.regex.Matcher.quoteReplacement(v))
        }
      }
    // a user @var never SET reads as NULL (reference sql/expression/
    // uservar.go); @@sysvars were already resolved above
    if (!subst.contains("@")) subst
    else Dialect.mapCode(subst) { code =>
      code.replaceAll("(?<![@A-Za-z0-9_.])@([A-Za-z_][A-Za-z0-9_]*)\\b",
        "NULL")
    }
  }

  /** Run one SQL statement through the dialect shim into Catalyst.
    * `WITH RECURSIVE` statements (which Spark's parser rejects) are
    * intercepted and driven through the RecursiveCte working-table loop;
    * MySQL DML/DDL text (INSERT/UPDATE/DELETE/CREATE/DROP/TRUNCATE/SET)
    * dispatches to the memory-backend operations the way the reference's
    * planbuilder routes non-SELECT statements (sql/planbuilder/dml.go). */
  // SHOW WARNINGS/ERRORS and @@warning_count reads must see the PREVIOUS
  // statement's diagnostics; everything else resets the area. Depth-
  // guarded: statements run nested query() calls (INSERT..SELECT, UPDATE
  // subsets) and those must not wipe warnings the outer statement emits.
  private val DiagnosticsRead =
    ("""(?is)^\s*(?:SHOW\s+(?:COUNT\(\*\)\s+)?(?:WARNINGS|ERRORS)\b""" +
     """|SELECT\s+@@(?:session\.)?(?:warning_count|error_count)\b).*""").r
  private var queryDepth = 0
  /** Monotone top-level statement counter — the boundary for
    * once-per-statement side effects (named locks). */
  private var stmtSeq = 0L

  def query(sql0: String): DataFrame = mysqlTrimSemantics {
    // a MySQL client accepts one trailing statement terminator
    val sql = sql0.replaceAll("(?s);\\s*$", "")
    if (queryDepth == 0) stmtSeq += 1
    if (queryDepth == 0 && !DiagnosticsRead.pattern.matcher(sql).matches())
      clearDiagnostics()
    queryDepth += 1
    try queryInner(sql) finally queryDepth -= 1
  }

  /** MySQL's secure_file_priv: when set, SELECT INTO OUTFILE/DUMPFILE
    * may only write under this directory (error 1290 outside it);
    * unset = unrestricted, the reference test default. */
  var secureFilePriv: Option[String] = None

  /** INTO OUTFILE/DUMPFILE target guards (reference sql/plan/into.go +
    * MySQL): never overwrite an existing file (error 1086), honor
    * secure_file_priv when configured (error 1290). */
  private def checkFileTarget(path: String): Unit = {
    secureFilePriv.foreach { dir =>
      val norm = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      val base = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      if (!norm.startsWith(base))
        throw new IllegalArgumentException(
          "The MySQL server is running with the --secure-file-priv " +
          "option so it cannot execute this statement (MySQL error 1290)")
    }
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new IllegalArgumentException(
        s"File '$path' already exists (MySQL error 1086)")
  }

  /** Execute a SELECT whose INTO clause was extracted: @var targets and
    * DUMPFILE require at most one row (MySQL 1172); OUTFILE streams all
    * rows through the delimited writer; 0 rows leave @vars untouched
    * (reference sql/rowexec/rel_iters.go intoIter). */
  private def runSelectInto(cleaned: String,
      target: SqlRewrite.IntoTarget): DataFrame = {
    val df = queryInner(cleaned)
    def atMostOne(): Array[org.apache.spark.sql.Row] = {
      val rows = df.limit(2).collect()
      if (rows.length > 1)
        throw new IllegalArgumentException(
          "Result consisted of more than one row (MySQL error 1172)")
      rows
    }
    val affected: Long = target match {
      case SqlRewrite.IntoVars(names) =>
        val rows = atMostOne()
        if (df.columns.length != names.length)
          throw new IllegalArgumentException(
            "The used SELECT statements have a different number of " +
            "columns (MySQL error 1222)")
        rows.headOption.foreach { r =>
          names.zipWithIndex.foreach { case (n, ix) =>
            setVar(n, r.get(ix) match {
              case null => null
              case v: java.lang.Number => v
              case v: java.lang.Boolean => v
              case other => String.valueOf(other) // quoted by setVar
            })
          }
        }
        rows.length.toLong
      case SqlRewrite.IntoFile(path, true) =>
        // DUMPFILE: the single row raw, no delimiters or terminators;
        // BINARY cells write their raw bytes (reference into.go dumps
        // the wire value, not a rendering)
        checkFileTarget(path)
        val rows = atMostOne()
        val out = new java.io.ByteArrayOutputStream()
        rows.headOption.foreach { r =>
          (0 until r.length).foreach { ix =>
            r.get(ix) match {
              case b: Array[Byte] => out.write(b)
              case v => out.write(String.valueOf(v).getBytes("UTF-8"))
            }
          }
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          out.toByteArray,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        rows.length.toLong
      case SqlRewrite.IntoFile(path, false) =>
        checkFileTarget(path)
        intoOutfile(cleaned, path)
        df.count()
    }
    import spark.implicits._
    Seq(affected).toDF("affected_rows")
  }

  /** Blank out literals, comments and parenthesized segments — leaves
    * only a statement's TOP-LEVEL tokens for structural guards. */
  private def stripQuotesAndParens(s: String): String = {
    val sb = new StringBuilder
    SqlRewrite.scanTop(s) { (_, c, d) =>
      if (d == 0 && c != '(' && c != ')') sb.append(c)
      -1
    }
    sb.toString
  }

  private def queryInner(sql: String): DataFrame = {
    // SELECT … INTO @vars / OUTFILE / DUMPFILE (reference sql/plan/
    // into.go:26): extracted BEFORE variable substitution — the INTO
    // targets are assignment slots, not reads
    SqlRewrite.extractSelectInto(sql) match {
      case Some(Left(msg)) => throw new IllegalArgumentException(msg)
      case Some(Right((cleaned, target))) =>
        return runSelectInto(cleaned, target)
      case None => ()
    }
    // MySQL allows DECLARE only inside BEGIN/END blocks (reference
    // script_queries.go "Top-level DECLARE statements" — every form is
    // a syntax error at top level). Spark 4 would otherwise accept
    // `DECLARE x TYPE` as its own session-variable DDL.
    if (sql.trim.takeWhile(!_.isWhitespace).equalsIgnoreCase("DECLARE"))
      throw new IllegalArgumentException(
        "DECLARE is only allowed inside BEGIN/END blocks " +
        "(MySQL syntax error 1064)")
    // `fn(*)` with a bare star is invalid for everything except
    // COUNT(*) (MySQL 1064; Spark would resolve hex(*) by expanding the
    // star) — script_queries.go "different cases of function name"
    if (sql.contains("*"))
      SqlRewrite.starArgFunction(sql).foreach { fn =>
        throw new IllegalArgumentException(
          s"Incorrect parameter count in the call to function '$fn' " +
          "(MySQL error 1582)")
      }
    // information_schema views are snapshots of the session catalog +
    // declared metadata, so (re)materialize them whenever a statement
    // reads them — the MySQL front door needs no explicit enable call
    if (sql.toLowerCase.contains("information_schema"))
      enableInformationSchema()
    // unquoted `dual` is MySQL's builtin pseudo-table even when a real
    // `dual` table exists (created backticked): `SELECT * FROM dual` has
    // no columns to expand — ER_NO_TABLES_USED (script_queries.go
    // "basic test on tables dual and `dual`")
    if ("""(?is)\bSELECT\s+\*\s+FROM\s+DUAL\b""".r.findFirstIn(sql).isDefined)
      throw new IllegalArgumentException("No tables used (MySQL error 1096)")
    // a set operation's global ORDER BY may not use table-qualified
    // names (MySQL 1250; script_queries.go "set op schema merge":
    // `table t1 union table t2 order by t1.i` is an error)
    locally {
      val top = stripQuotesAndParens(sql)
      if ("""(?i)\b(union|intersect|except)\b""".r.findFirstIn(top).isDefined) {
        """(?i)\border\s+by\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*\.""".r
          .findFirstMatchIn(top).foreach { m =>
            throw new IllegalArgumentException(
              s"Table '${m.group(1)}' from one of the SELECTs cannot be " +
              "used in global ORDER clause (MySQL error 1250)")
          }
      }
    }
    // MySQL lenient literal casts run BEFORE the dialect pass (the
    // DATETIME(p) precision is still visible here) and feed 1292s into
    // the diagnostics area
    val pre0 = SqlRewrite.lenientCastLiterals(
      SqlRewrite.castBinaryN(
        SqlRewrite.quotedAliases(applyAnsiQuotes(sql))), warn)
    SqlRewrite.truncateLiteralWarnings(pre0, warn)
    SqlRewrite.strToDateLiteralWarnings(pre0, warn)
    // zero-date literals in date arithmetic -> NULL + 1292
    val pre = SqlRewrite.zeroDateCallNull(pre0, warn)
    // JSON_TABLE table functions compile to (LATERAL) derived tables
    // before any further token work (plans/JsonTableSql)
    val rewritten0 =
      plans.TableFuncSql.rewrite(plans.JsonTableSql.rewrite(
        substituteVars(Dialect.rewrite(
          SqlRewrite.infoSchemaNames(SqlRewrite.sysVarAliases(pre)),
          pipesAsConcat))))
    // ENUM index / SET bitmask ordering (enum.go / set.go Compare):
    // only sessions that declared a vocabulary pay the token walk
    val rewritten1 =
      if (!tables.valuesIterator.exists(_.columns.valuesIterator.exists(_.vocab.isDefined)))
        rewritten0
      else SqlRewrite.enumOrdinal(rewritten0, vocabLookup(rewritten0))
    // dolt's any_value-without-GROUP-BY keeps per-row semantics
    // (queries.go:9332) — strip the aggregate wrapper in that shape
    val rewritten2 = SqlRewrite.ifBooleanBranches(
      SqlRewrite.fromlessHavingSubquery(
        SqlRewrite.anyValueNoGroup(rewritten1)))
    // numeric-column vs non-numeric-string comparisons coerce the
    // literal to 0 with a 1292 (reference TestConvert 'string' block).
    // SELECT-only: UPDATE/ODKU assignments use `=` too and their strict
    // conversion errors must stay errors.
    val firstWord = rewritten2.trim.takeWhile(!_.isWhitespace).toUpperCase
    val isSelect =
      firstWord == "SELECT" || firstWord == "WITH" || firstWord == "("
    val rewritten3 =
      if (!rewritten2.contains("'") || !isSelect) rewritten2
      else {
        lazy val numCols = numericColsFor(rewritten2)
        SqlRewrite.numericLiteralCompare(rewritten2, numCols.contains, warn)
      }
    // `BINARY x` prefix + GET_FORMAT bare keyword: SELECT-only (the
    // binary token in DDL is a column type)
    val rewritten =
      if (!isSelect) rewritten3
      else SqlRewrite.getFormatKeyword(SqlRewrite.binaryPrefix(rewritten3))
    Dml.dispatch(this, rewritten).getOrElse {
      // recursive-CTE statements execute through the driver fixpoint
      // loop; routing retries through runStmt keeps the MySQL-semantics
      // rewrites (HAVING->WHERE, any_value, alias substitution) available
      // to them too
      def runStmt(s: String): DataFrame =
        // UNION + LIMIT/OFFSET without ORDER BY: MySQL returns rows in
        // branch order; evaluate un-limited and slice on one partition
        // so the offset counts that natural order
        SqlRewrite.unionAllLimitOffset(s) match {
          case Some((inner, lim, off)) =>
            runStmt(inner).coalesce(1).offset(off).limit(lim)
          case None =>
            plans.RecursiveSql.run(spark, s, sqlMySqlArith)
              .getOrElse(sqlMySqlArith(s))
        }
      // each MySQL-semantics rewrite may expose the NEXT gap in the
      // same statement (e.g. a second deep-correlated subquery), so
      // retries recurse with a small budget instead of firing once
      def attempt(cur: String, budget: Int): DataFrame = {
        try runStmt(cur)
        catch {
          // MySQL HAVING-without-GROUP-BY is a row filter over projection
          // aliases (reference sql/planbuilder/select.go); Spark turns it
          // into a global aggregate. Retry-only: rewrite HAVING -> WHERE
          // with alias substitution (the WHERE it writes takes MySQL
          // truthiness on the plan, so `HAVING <numeric>` also resolves).
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("MISSING_GROUP_BY") =>
            val viaWhere = SqlRewrite.havingNoGroup(cur)
            if (viaWhere != cur) attempt(viaWhere, budget - 1)
            else if (!sqlModeString.toUpperCase.contains(
                "ONLY_FULL_GROUP_BY")) {
              // without ONLY_FULL_GROUP_BY every non-aggregated item is
              // admitted as any-value (sql_mode.go)
              val wrapped = SqlRewrite.anyValueWrap(cur, wrapAll = true)
              if (wrapped == cur) throw e
              attempt(wrapped, budget - 1)
            }
            else {
              // aggregate + bare column without GROUP BY: legal under
              // ONLY_FULL_GROUP_BY only when WHERE pins the column to a
              // constant (queries.go `SELECT pk1, SUM(c1) FROM two_pk
              // WHERE pk1 = 0`); otherwise it stays an error
              // (order_by_group_by_queries.go `select AVG(j), i from tij`)
              def constPinned(c: String): Boolean =
                ("(?is)\\b" + java.util.regex.Pattern.quote(c) +
                  "\\s*=\\s*(?:'[^']*'|-?\\d+(?:\\.\\d+)?)").r
                  .findFirstIn(cur).isDefined
              val wrapped = SqlRewrite.anyValueWrap(cur, constPinned)
              if (wrapped == cur) throw e
              attempt(wrapped, budget - 1)
            }
          // non-aggregated column in a grouped select: ONLY_FULL_GROUP_BY
          // admits it only when the group key functionally determines it —
          // here, when the single FROM table's PRIMARY KEY is grouped
          // (order_by_group_by_queries.go: `group by team` + bare id stays
          // an error; queries.go `GROUP BY i` on mytable's pk passes)
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("MISSING_AGGREGATION") =>
            // HAVING over grouped table columns that a select alias
            // shadows: equivalent pre-group WHERE (MySQL binds the
            // table column; Spark bound the alias and errored)
            val h2w = SqlRewrite.havingKeysToWhere(cur)
            // a bare GROUP BY key naming a select alias groups by the
            // aliased EXPRESSION in MySQL (aliases shadow table columns
            // in GROUP BY) — expand before the pk/const admissibility
            // fallbacks
            val h2w2 =
              if (h2w != cur) h2w else SqlRewrite.groupKeyAliasExpand(cur)
            if (h2w2 != cur) attempt(h2w2, budget - 1)
            else {
            val fromTbl = """(?i)\bFROM\s+`?([A-Za-z_][A-Za-z0-9_]*)`?"""
              .r.findFirstMatchIn(cur).map(_.group(1))
            val groupTxt =
              """(?is)\bGROUP\s+BY\s+(.*?)(?:\bHAVING\b|\bORDER\b|\bLIMIT\b|$)"""
                .r.findFirstMatchIn(cur).map(_.group(1)).getOrElse("")
            val groupWords = """[A-Za-z_][A-Za-z0-9_]*""".r
              .findAllIn(groupTxt).map(_.toLowerCase).toSet
            // the reference admits a bare column when ANY joined table's
            // full pk is grouped (Multi-db Aliasing: `from db1.t1 join
            // db2.t2 group by i`, i = t1's pk, bare j admitted)
            val allFromTbls =
              """(?i)\b(?:FROM|JOIN)\s+`?([A-Za-z_][A-Za-z0-9_.]*)`?"""
                .r.findAllMatchIn(cur).map(_.group(1)).toList
            val pkGrouped = allFromTbls.exists(t =>
              tableDef(canonicalTable(t)).key.exists(pk =>
                pk.nonEmpty && pk.forall(c => groupWords(c.toLowerCase))))
            // the offending column is also admissible when WHERE pins it
            // (or the table pk) to a constant — functionally single-group
            def constPinned(c: String): Boolean =
              ("(?is)\\b" + java.util.regex.Pattern.quote(c) +
                "\\s*=\\s*(?:'[^']*'|-?\\d+(?:\\.\\d+)?)").r
                .findFirstIn(cur).isDefined
            val offending = "non-aggregating expression \"([^\"]+)\"".r
              .findFirstMatchIn(e.getMessage).map(_.group(1))
            // db-qualified select items (db1.t1.i) must strip to
            // table-qualified before the any_value wrap can see them
            val dbStripped = SqlRewrite.dbQualifiedColumns(cur)
            if (dbStripped != cur) attempt(dbStripped, budget - 1)
            else {
            val pkPinned = fromTbl.flatMap(t =>
              tableDef(canonicalTable(t)).key).exists(pk =>
              pk.nonEmpty && pk.forall(constPinned))
            val fullGroupBy =
              sqlModeString.toUpperCase.contains("ONLY_FULL_GROUP_BY")
            if (fullGroupBy && !pkGrouped && !pkPinned &&
                !offending.exists(constPinned)) throw e
            // `SELECT *` with the pk grouped: expand the star to the
            // table's columns first so the wrap has names to work on
            val expanded =
              if (!"""(?is)\bSELECT\s+\*\s+FROM\b""".r
                    .findFirstIn(cur).isDefined) cur
              else fromTbl.flatMap(t =>
                scala.util.Try(spark.table(canonicalTable(t)).columns).toOption)
                .map(cols => cur.replaceFirst("(?is)(\\bSELECT\\s+)\\*",
                  "$1" + cols.map(c => s"`$c`").mkString(", ")))
                .getOrElse(cur)
            val wrapped = SqlRewrite.anyValueWrap(expanded,
              wrapAll = !fullGroupBy)
            if (wrapped == cur) throw e
            attempt(wrapped, budget - 1)
            }
            }
          // grouped HAVING referencing a select alias (inside an
          // aggregate): MySQL resolves via the projection scope; Spark
          // loses the alias in the Aggregate. Substitute and retry.
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("MISSING_ATTRIBUTES") =>
            val sub = SqlRewrite.havingAliasSub(cur)
            if (sub == cur) throw e
            attempt(sub, budget - 1)
          // duplicate select alias referenced in GROUP BY/HAVING: MySQL
          // binds the FIRST occurrence; Spark errors AMBIGUOUS_REFERENCE
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("AMBIGUOUS_REFERENCE") =>
            val sub = SqlRewrite.aliasSubGroupHaving(cur)
            if (sub == cur) throw e
            attempt(sub, budget - 1)
          // UNRESOLVED_COLUMN family of MySQL-scoping gaps, in order:
          // vacuous ORDER BY over a global aggregate; a 2-levels-out
          // reference inside an IN subquery (-> LEFT SEMI JOIN, which
          // lifts every reference one scope); a select-list alias
          // referenced inside a select-list subquery
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("UNRESOLVED_COLUMN") =>
            val nm = "with name ((?:`[^`]+`\\.?)+)".r
              .findFirstMatchIn(e.getMessage)
              .map(_.group(1).replace("`", ""))
            def colsFor(t: String): Seq[String] =
              scala.util.Try(spark.table(canonicalTable(t)).columns.toSeq)
                .getOrElse(Seq.empty)
            val candidates: Seq[() => String] = Seq(
              () => if ("(?i)\\border\\s+by\\b".r
                          .findFirstIn(cur).isDefined)
                      SqlRewrite.stripOrderByGlobalAgg(cur)
                    else cur,
              () => if ("(?i)\\border\\s+by\\b".r
                          .findFirstIn(cur).isDefined)
                      SqlRewrite.distinctOrderByHidden(cur)
                    else cur) ++
              nm.toSeq.flatMap { n =>
                val deep = () => SqlRewrite.deepInSemiJoin(cur, n, colsFor)
                val alias = () =>
                  SqlRewrite.aliasIntoSubquery(cur, n.split('.').last)
                val hoist = () => SqlRewrite.hoistDeepEquality(cur, n)
                val subst = () => SqlRewrite.substDeepEquality(cur, n)
                val derived = () => SqlRewrite.hoistDerivedConjunct(cur, n)
                val goAlias = () => SqlRewrite.groupOrderExprAlias(cur)
                val dbq = () => SqlRewrite.dbQualifiedColumns(cur)
                if (n.contains("."))
                  Seq(dbq, deep, hoist, subst, derived, alias, goAlias)
                else Seq(alias, deep, hoist, subst, derived, goAlias)
              }
            candidates.view.map(f => f()).find(_ != cur) match {
              case Some(fixed) => attempt(fixed, budget - 1)
              case None => throw e
            }
          // inline VALUES derived table with mixed literal types: MySQL
          // unifies numerically; rewrite to UNION ALL selects and retry
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains("INVALID_INLINE_TABLE") =>
            val expanded = SqlRewrite.inlineTableUnion(cur)
            if (expanded == cur) throw e
            attempt(expanded, budget - 1)
          // subquery expressions in positions Spark doesn't evaluate:
          // VALUES ROW(...) single-row inline tables become one-row
          // SELECTs; an INNER JOIN's ON-conjunct holding a scalar
          // subquery moves to WHERE (equivalent for inner joins);
          // ORDER BY subqueries lift into a hidden projection
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains(
                "UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY") =>
            val v = SqlRewrite.valuesRowSelect(cur)
            val v2 =
              if (v != cur) v
              else SqlRewrite.innerJoinOnSubqueryToWhere(cur)
            val v3 =
              if (v2 != cur) v2
              else SqlRewrite.orderBySubqueryLift(cur)
            // correlated scalar probes over grouped columns: two-phase
            // group-then-probe (pre-aggregate, correlate on the alias)
            val v4 =
              if (v3 != cur) v3
              else if (e.getMessage.contains("SCALAR_SUBQUERY"))
                SqlRewrite.groupThenProbe(cur)
              else cur
            if (v4 == cur) throw e
            attempt(v4, budget - 1)
          // correlated scalar probe referencing grouped columns
          // (sqllogictest subquery_correlated L1130): pre-aggregate the
          // outer into a derived table and correlate on its alias
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && e.getMessage.contains(
                "SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION") =>
            val probed = SqlRewrite.groupThenProbe(cur)
            if (probed == cur) throw e
            attempt(probed, budget - 1)
          // MySQL DECIMAL reaches precision 65 (ref sql/types/decimal.go:58);
          // Spark caps at 38. Literal-only wide-decimal shapes constant-fold
          // to their exact MySQL display string.
          // (SparkArithmeticException, not AnalysisException — the
          // precision check fires when the literal's DecimalType builds)
          case e: Throwable
              if budget > 0 &&
                 e.isInstanceOf[org.apache.spark.SparkThrowable] &&
                 String.valueOf(e.getMessage).contains(
                   "DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION") =>
            val folded = SqlRewrite.foldWideDecimal(cur)
            if (folded == cur) throw e
            attempt(folded, budget - 1)
          // MySQL row-value comparisons — `(a,b) = (c,d)`, `(a,b) IN
          // ((1,2),(3,4))` — have no Spark parse; expand to pairwise
          // scalar comparisons (exact 3VL) and retry.
          case e: org.apache.spark.sql.AnalysisException
              if budget > 0 && (e.getMessage.contains("PARSE_SYNTAX_ERROR") ||
                 e.getMessage.contains("Syntax error") ||
                 // row-subquery comparisons: `(select a, b …) IN ((1,2))`
                 // compile to struct comparisons on retry; subquery
                 // SIDES expand to pairwise scalar-boolean subqueries
                 e.getMessage.contains("ASSIGNMENT_ARITY_MISMATCH") ||
                 e.getMessage.contains(
                   "SCALAR_SUBQUERY_RETURN_MORE_THAN_ONE_OUTPUT_COLUMN")) =>
            // subquery sides first: the pairwise-boolean expansion keeps
            // exact 3VL where the struct form would compare null fields
            // as equal; then ANY/SOME/ALL quantified comparisons
            val expanded = SqlRewrite.tupleSubqueryCompare(cur)
            val expanded2 =
              if (expanded != cur) expanded
              else SqlRewrite.tupleCompare(cur)
            val expanded3 =
              if (expanded2 != cur) expanded2
              else
                // the = ANY -> IN / <> ALL -> NOT IN mapping re-applies
                // the 3VL IN probes for null-observable positions
                SqlRewrite.inSubquerySelectList(
                  SqlRewrite.quantifiedCompare(cur))
            if (expanded3 == cur) throw e
            attempt(expanded3, budget - 1)
        }

      }
      // MySQL 1066: the same unaliased table joined twice in one FROM
      // (Spark admits the self-join; the reference rejects it)
      SqlRewrite.duplicateUnaliasedTable(rewritten).foreach { t =>
        throw new IllegalArgumentException(s"Not unique table/alias: '$t'")
      }
      // SQL_CALC_FOUND_ROWS: strip the keyword; FOUND_ROWS() counts the
      // un-limited result (reference sql/iters/top_rows_iters.go:69)
      val (calcFound, cleaned0) = SqlRewrite.stripCalcFoundRows(rewritten)
      // dolt's clustered-scan tie order: TopN over a pk'd table breaks
      // sort ties by primary key
      val cleaned1 =
        if (!tables.valuesIterator.exists(_.key.isDefined)) cleaned0
        else SqlRewrite.stableTopN(cleaned0,
          t => tableDef(canonicalTable(t)).key)
      // branch-local ORDER BY/LIMIT in parenthesized set-op operands
      val cleaned = SqlRewrite.setOpBranchWrap(cleaned1)
      // the pk tiebreaker is best-effort: if the patched text fails
      // analysis (shapes stableTopN's static guards missed), the
      // un-tiebroken original must still run — rethrow ITS error only
      val result =
        if (cleaned1 == cleaned0) attempt(cleaned, 6)
        else
          try attempt(cleaned, 6)
          catch { case _: Exception =>
            attempt(SqlRewrite.setOpBranchWrap(cleaned0), 6) }
      // session counters, top-level SELECT statements only (reference
      // plan/process.go TrackedRowIter.updateSessionVars): ROW_COUNT()
      // resets to -1; FOUND_ROWS() captures this result lazily
      if (queryDepth == 1 && isSelect) {
        rowCountVal = -1L
        foundRowsDf =
          if (!calcFound) Some(result)
          else Some(
            try attempt(SqlRewrite.stripTopLimit(cleaned), 6)
            catch { case _: Exception => result })
      }
      result
    }
  }

  /** Numeric-typed column names across every table the statement
    * mentions (FROM/JOIN targets resolvable in the session catalog). */
  private def numericColsFor(sqlText: String): Set[String] = {
    val tbls = """(?i)\b(?:FROM|JOIN)\s+`?([A-Za-z_][A-Za-z0-9_]*)`?""".r
      .findAllMatchIn(sqlText).map(_.group(1)).toList.distinct
    tbls.flatMap { t =>
      scala.util.Try(spark.table(t).schema.fields).toOption.toSeq.flatten
        .collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            f.name.toLowerCase
        }
    }.toSet
  }

  /** spark.sql with the MySQL coercion layer on the parsed plan
    * (functions/MySqlArith.scala): truthiness of numeric and string
    * conditions, type-adaptive comparison (DATE against a number,
    * BETWEEN as a comparison pair), division scale chains, uint64 bit
    * ops, temporal/bool/string operand coercion. Falls back to the plain
    * path if parsing the text directly is impossible. */
  private def sqlMySqlArith(sqlText: String): DataFrame = {
    val parsed =
      try org.apache.spark.sql.GraftBridge.parsePlan(spark, sqlText)
      catch { case _: Exception => return spark.sql(sqlText) }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      functions.MySqlArithRewrite(parsed))
  }

  /** Run a multi-statement script (reference ScriptTest shape:
    * `;`-separated statements, literal-aware split). Returns each
    * statement's result; callers usually keep only the last. */
  def runScript(script: String): Seq[DataFrame] =
    splitStatements(script).map(query)

  private def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    SqlRewrite.scanTop(script) { (i, c, _) =>
      if (c == ';') { out += script.substring(start, i); start = i + 1 }
      -1
    }
    out += script.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Prepared statement with named `:name` markers (reference
    * Engine.PrepareQuery engine.go:160): the values bind into the text
    * (bindParams) and the statement takes the one front door, `query`. */
  def queryPrepared(sql: String, params: Map[String, Any]): DataFrame =
    query(bindParams(sql, Right(params)))

  /** Prepared statement with positional `?` markers (MySQL style). */
  def queryPrepared(sql: String, params: Seq[Any]): DataFrame =
    query(bindParams(sql, Left(params)))

  /** `sql` with each parameter marker outside quotes and comments
    * replaced by its value as a MySQL literal: `?` markers take the
    * positional values in order, `:name` markers the named ones (`::`
    * and `:=` are not markers). Shared by queryPrepared and SQL-text
    * EXECUTE … USING, so a prepared statement is the text statement
    * with its literals filled in: the same rewrites, the same DML
    * dispatch. Every `?` needs a value and no value may be left over
    * (prepared_statement_queries.go). */
  private[graft] def bindParams(sql: String, params: Either[Seq[Any], Map[String, Any]]): String = {
    def literal(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("X'", "", "'")
      case d @ (_: java.util.Date | _: java.time.temporal.TemporalAccessor) => s"'$d'"
      case other => String.valueOf(other)
    }
    val marks = scala.collection.mutable.ArrayBuffer.empty[Int]
    val named = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    val Name = """:([A-Za-z_][A-Za-z0-9_]*)""".r
    SqlRewrite.scanTop(sql) { (i, c, _) =>
      params match {
        case Left(_) if c == '?' => marks += i
        case Right(values) if c == ':' && (i == 0 || sql.charAt(i - 1) != ':') =>
          Name.findPrefixMatchOf(sql.substring(i)).foreach { m =>
            named += ((i, i + m.end, literal(values.getOrElse(m.group(1),
              throw new IllegalArgumentException(s"bind variable not provided: '${m.group(1)}'")))))
          }
        case _ =>
      }
      -1
    }
    params match {
      case Left(values) =>
        if (values.length < marks.length)
          throw new IllegalArgumentException(
            s"bind variable not provided: 'v${values.length + 1}'")
        if (values.length > marks.length)
          throw new IllegalArgumentException(
            s"invalid arguments. expected: ${marks.length}, found: ${values.length}")
        SqlRewrite.splice(sql, marks.toSeq.zip(values).map { case (at, v) => (at, at + 1, literal(v)) })
      case Right(_) => SqlRewrite.splice(sql, named.toSeq)
    }
  }

  /** SELECT ... INTO @var (reference sql/plan/into.go @vars path): runs a
    * single-row single-column query and stores the scalar as a session
    * variable for later @var substitution. */
  def selectInto(sql: String, varName: String): Unit = {
    // bounded like runSelectInto's front door: never materialize a
    // large misuse on the driver before erroring
    val rows = query(sql).limit(2).collect()
    require(rows.length == 1 && rows(0).length == 1,
      s"SELECT INTO expects 1 row x 1 column, got " +
      s"${if (rows.length > 1) "more than one" else rows.length.toString} " +
      "rows")
    setVar(varName, rows(0).get(0))
  }

  /** Attach every table of a testdata directory as temp views (the
    * default, schema-less namespace). */
  def attachDir(dir: String): Unit = Tables.registerAll(spark, dir)

  /** Attach a testdata directory as a NAMED DATABASE — the reference's
    * multi-database namespace (sql/catalog.go, sql/databases.go):
    * `db.table`-qualified access, `USE` switching, catalog-persistent
    * views over the parquet files. Temp views still shadow the current
    * database, exactly like MySQL's temporary tables. */
  def attachDirAsDatabase(db: String, dir: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    // events.parquet has shipped ts as INT64 TIMESTAMP(NANOS) or plain
    // timestamp[us]; the view re-exposes µs TimestampType either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      val path = s"$dir/$n.parquet"
      val body =
        if (n == "events") {
          val isNanoLong = Tables.schema(spark, path)
            .exists(_("ts").dataType == org.apache.spark.sql.types.LongType)
          if (isNanoLong)
            s"SELECT * EXCEPT (ts), timestamp_micros(ts div 1000) AS ts FROM parquet.`$path`"
          else
            s"SELECT * EXCEPT (ts), CAST(ts AS TIMESTAMP) AS ts FROM parquet.`$path`"
        } else s"SELECT * FROM parquet.`$path`"
      spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$n` AS $body")
    }
  }

  /** USE db (reference session database state) — keeps the
    * information_schema default schema and DATABASE() in agreement. */
  def use(db: String): Unit = { spark.sql(s"USE `$db`"); sessionDb = db }

  def currentDatabase: String = spark.catalog.currentDatabase

  /** Display-case registry: Spark lowercases catalog namespaces, MySQL
    * preserves the CREATE DATABASE spelling (SHOW DATABASES / DATABASE()
    * report 'NewDatabase', not 'newdatabase'). */
  private[graft] val dbDisplay =
    scala.collection.mutable.Map.empty[String, String]
  private def dbShown(lower: String): String = dbDisplay.getOrElse(lower, lower)

  def showDatabases(): Seq[String] =
    spark.catalog.listDatabases().collect().map(d => dbShown(d.name))
      .toSeq.sorted

  def dropDatabase(db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  /** CREATE DATABASE/SCHEMA statement semantics (reference
    * sql/plan/dbddl.go): duplicate name is 1007 (a Note under IF NOT
    * EXISTS, still OkResult 1); charset/collation/encryption clauses
    * warn 1235. */
  private[graft] def createDatabaseStmt(name: String, ifNotExists: Boolean,
                                        clauseTail: String): Long = {
    val lower = name.toLowerCase
    val exists = spark.catalog.databaseExists(lower)
    if (exists) {
      if (!ifNotExists) throw new IllegalArgumentException(
        s"can't create database $name; database exists (MySQL error 1007)")
      addDiag("Note", 1007, s"Can't create database $name; database exists ")
      return 1L
    }
    // CHARACTER SET / COLLATE clauses record the schema default for
    // information_schema.schemata (reference schemata_table.go); the
    // charset is the collation's family prefix. ENCRYPTION still warns.
    val collClause = """(?i)\bCOLLATE\s*=?\s*[`']?([\w]+)""".r
      .findFirstMatchIn(clauseTail).map(_.group(1))
    val csClause = """(?i)\b(?:CHARACTER\s+SET|CHARSET)\s*=?\s*[`']?([\w]+)""".r
      .findFirstMatchIn(clauseTail).map(_.group(1))
    (collClause, csClause) match {
      case (Some(coll), _) =>
        val cs = Engine.collationCatalog.find(_._2 == coll).map(_._3)
          .getOrElse(coll.takeWhile(_ != '_'))
        dbCollations(lower) = (cs, coll)
      case (None, Some(cs)) =>
        val coll = Engine.collationCatalog
          .find(c => c._3 == cs && c._4).map(_._2).getOrElse(cs + "_general_ci")
        dbCollations(lower) = (cs, coll)
      case _ =>
        // no clause: the session's character_set_server (when set)
        // becomes the schema default (script_queries.go modified-server-
        // variables block)
        sysVarOverrides.get("character_set_server").foreach { v =>
          val cs = v.stripPrefix("'").stripSuffix("'")
          val coll = Engine.collationCatalog
            .find(c => c._3 == cs && c._4).map(_._2)
            .getOrElse(cs + "_general_ci")
          dbCollations(lower) = (cs, coll)
        }
    }
    if (clauseTail.trim.nonEmpty &&
        """(?i)\bENCRYPTION\b""".r.findFirstIn(clauseTail).isDefined)
      warn(1235,
        "Setting CHARACTER SET, COLLATION and ENCRYPTION are not supported yet")
    spark.sql(s"CREATE DATABASE `$lower`")
    dbDisplay(lower) = name
    1L
  }

  /** Per-database declared (charset, collation) from CREATE DATABASE
    * clauses; absent = the utf8mb4/utf8mb4_0900_bin default. */
  private[graft] val dbCollations =
    scala.collection.mutable.Map.empty[String, (String, String)]

  /** DROP DATABASE/SCHEMA: missing name is 1008 (a Note + OkResult 0
    * under IF EXISTS); dropping the CURRENT database leaves no database
    * selected — DATABASE() reads NULL (reference dbddl.go). */
  private[graft] def dropDatabaseStmt(name: String, ifExists: Boolean): Long = {
    val lower = name.toLowerCase
    if (!spark.catalog.databaseExists(lower)) {
      if (!ifExists) throw new IllegalArgumentException(
        s"can't drop database $name; database doesn't exist (MySQL error 1008)")
      addDiag("Note", 1008,
        s"Can't drop database $name; database doesn't exist ")
      return 0L
    }
    val wasCurrent = sessionDb != null && sessionDb.toLowerCase == lower
    if (spark.catalog.currentDatabase == lower) spark.sql("USE default")
    spark.sql(s"DROP DATABASE `$lower` CASCADE")
    dbDisplay.remove(lower)
    if (wasCurrent) sessionDb = null
    1L
  }

  /** USE statement: unknown database is MySQL 1049. */
  private[graft] def useStmt(name: String): Unit = {
    val lower = name.toLowerCase
    if (!spark.catalog.databaseExists(lower) &&
        lower != "information_schema" && lower != "mysql")
      throw new IllegalArgumentException(
        s"database not found: $name (MySQL error 1049)")
    if (spark.catalog.databaseExists(lower)) spark.sql(s"USE `$lower`")
    sessionDb = dbShown(lower)
  }

  /** CREATE TABLE t AS SELECT ... (TableCopier, sql/plan/table_copier.go).
    * A db-qualified target materializes into the catalog namespace. */
  def ctas(name: String, sql: String): Unit = {
    tables(name) = TableDef.Empty
    if (name.contains(".")) replaceTable(name, query(sql), bumpDepth = false)
    else query(sql).createOrReplaceTempView(name)
  }

  // ---- AS OF time travel ------------------------------------------------
  // The reference resolves `table AS OF <revision>` against versioned
  // storage (sql/planbuilder/from.go AS OF; dolt's versioned tables).
  // Spark-first: `snapshot(t)` pins the table's CURRENT contents as a
  // parquet warehouse table under an integer revision; the dialect layer
  // rewrites `t AS OF n` to the pinned name. The warehouse is reliable
  // storage on a cluster (HDFS/S3), so a pinned revision survives executor
  // loss and cache eviction — unlike a localCheckpoint, whose blocks live
  // on executors. Numeric revisions only (string revisions are a
  // storage-format concern this engine does not carry).

  private val snapshotCounters = scala.collection.mutable.Map.empty[String, Int]

  /** Warehouse-rooted path for durable engine state (snapshots, insert
    * materializations). Explicit-path parquet + a view over the files
    * rather than saveAsTable: mode("overwrite") then owns the directory
    * lifecycle, so a stale dir from an earlier session can never collide
    * the way a managed-table location does. */
  private def durablePath(name: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      s"/graft_engine/e$engineId/$name"

  /** Pin the current contents of `table`; returns the revision number. */
  def snapshot(table: String): Int = {
    val v = snapshotCounters.getOrElse(table, 0) + 1
    snapshotCounters(table) = v
    val path = durablePath(s"${table}__asof_$v")
    spark.table(table).write.mode("overwrite").parquet(path)
    Tables.read(spark, path).createOrReplaceTempView(s"${table}__asof_$v")
    v
  }

  /** CREATE [OR REPLACE] VIEW. A db-qualified view lands in the catalog
    * namespace (materialized — catalog views can't reference temp state). */
  /** Stored view definitions, for SHOW CREATE VIEW (reference
    * view_queries.go:584 — the stored text survives underlying-object
    * changes). */
  private[graft] val viewDefs =
    scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Declared view column lists (CREATE VIEW v (c1, c2) AS …). */
  private[graft] val viewCols =
    scala.collection.mutable.Map.empty[String, Seq[String]]
  /** Actual table dependencies per view, recorded at CREATE VIEW time
    * from the parsed FROM/JOIN targets — refreshViews keys on these,
    * not on a whole-text word match (a column or alias that happens to
    * share a table's name must not trigger a refresh). */
  private[graft] val viewDeps =
    scala.collection.mutable.Map.empty[String, Set[String]]
  /** Views whose LAST re-resolution failed (underlying table renamed or
    * dropped): reads error like MySQL's ErrInvalidRefInView until a
    * catalog change makes the definition valid again. */
  private[graft] val brokenViews =
    scala.collection.mutable.Set.empty[String]
  private var viewRefreshing = false

  /** MySQL views resolve their TEXT at read time; this engine registers
    * them as analyzed temp views, so every catalog/data change to a
    * table re-resolves the views that mention it (reference
    * sql/planbuilder resolves views per statement; script_queries.go
    * "Querying existing view that references non-existing table"). A
    * failed re-resolution unregisters the temp view and marks it broken. */
  private[graft] def refreshViews(touched: String): Unit = {
    if (viewDefs.isEmpty || viewRefreshing) return
    viewRefreshing = true
    // internal refresh queries must not clobber the user-visible
    // session counters (FOUND_ROWS/ROW_COUNT) — replaceTable can be
    // reached outside a tracked statement, where the inner query()
    // runs at depth 1
    val savedRowCount = rowCountVal
    val savedFoundDf = foundRowsDf
    val savedFoundCnt = foundRowsCnt
    try {
      val tl = touched.toLowerCase
      val bare = if (tl.contains(".")) tl.substring(tl.indexOf('.') + 1) else tl
      // accumulate: refreshing view v makes views that read v stale too
      val stale = scala.collection.mutable.Set(tl, bare)
      viewDefs.toSeq.foreach { case (n, sqlText) =>
        if (!n.equalsIgnoreCase(touched)) {
          // deps recorded at CREATE time; legacy fallback for views
          // registered before dep tracking: whole-text word match
          val refs = viewDeps.get(n) match {
            case Some(deps) => deps.exists(stale)
            case None =>
              val body = sqlText.toLowerCase
              stale.exists(s =>
                ("\\b" + java.util.regex.Pattern.quote(s) + "\\b").r
                  .findFirstIn(body).isDefined)
          }
          if (refs || brokenViews.contains(n)) {
            try {
              val df0 = query(sqlText)
              val cols = viewCols.getOrElse(n, Seq.empty)
              val df = if (cols.isEmpty) df0 else df0.toDF(cols: _*)
              if (!n.contains(".")) df.createOrReplaceTempView(n)
              brokenViews.remove(n)
            } catch {
              case _: Exception =>
                brokenViews += n
                if (!n.contains("."))
                  try spark.catalog.dropTempView(n)
                  catch { case NonFatal(_) => () }
            }
            val nl = n.toLowerCase
            stale += nl
            if (nl.contains(".")) stale += nl.substring(nl.indexOf('.') + 1)
          }
        }
      }
    } finally {
      viewRefreshing = false
      rowCountVal = savedRowCount
      foundRowsDf = savedFoundDf
      foundRowsCnt = savedFoundCnt
    }
  }

  /** Each table's declared definition, keyed by its canonical (created)
    * name. A table this engine created has an entry (a CTAS table an
    * empty one), a `SELECT *` view one holding its source's columns, and
    * a declaration on an attached relation adds one. */
  private[graft] val tables =
    scala.collection.mutable.LinkedHashMap.empty[String, TableDef]

  /** `table`'s definition; the empty one where it declares nothing. */
  private[graft] def tableDef(table: String): TableDef =
    tables.getOrElse(table, TableDef.Empty)

  private[graft] def colDef(table: String, column: String): ColumnDef =
    tableDef(table).col(column)

  private[graft] def alterDef(table: String)(f: TableDef => TableDef): Unit =
    tables(table) = f(tableDef(table))

  private[graft] def alterCol(table: String, column: String)(
      f: ColumnDef => ColumnDef): Unit =
    alterDef(table)(_.withCol(column)(f))

  /** Every table's foreign keys (each held by its child's entry). */
  private[graft] def foreignKeys: Seq[Engine.ForeignKey] =
    tables.valuesIterator.flatMap(_.fks).toSeq

  /** Every table's CHECK constraints as (table, name, expression, enforced). */
  private[graft] def checkConstraints: Seq[(String, String, String, Boolean)] =
    tables.toSeq.flatMap { case (t, d) => d.checks.map { case (n, ex, en) => (t, n, ex, en) } }

  /** Relations THIS engine created (tables + views), for MySQL existence
    * semantics (1050 on duplicate CREATE VIEW, IF NOT EXISTS no-op).
    * Deliberately per-engine, not the shared session catalog: sibling
    * engines on the same SparkSession must not leak existence. */
  private[graft] def created(name: String): Boolean =
    tables.contains(name) || viewDefs.contains(name)

  /** Statement-level table references are case-insensitive against the
    * created name (the reference's memory catalog lowercases lookups,
    * sql/catalog.go), but table entries key on the exact created
    * spelling — resolve to it (insert_queries.go "explicit DEFAULT":
    * INSERT INTO T4 over CREATE TABLE t4). */
  private[graft] def canonicalTable(name: String): String =
    if (created(name)) name
    else (tables.keysIterator ++ viewDefs.keysIterator)
      .find(_.equalsIgnoreCase(name)).getOrElse(name)

  /** Base tables shadowed by `CREATE TEMPORARY TABLE` of the same name
    * (the reference's buildCreateTable skips the 1050 existence check
    * for temp tables — sql/planbuilder/ddl.go): the base's frame and
    * entry, which DROP restores. */
  private[graft] val tempShadow =
    scala.collection.mutable.Map.empty[String, (DataFrame, Option[TableDef])]

  /** Makes the base table that `name`'s temporary table shadowed visible
    * again, with its entry; false when `name` shadows nothing. */
  private[graft] def unshadow(name: String): Boolean =
    tempShadow.remove(name) match {
      case Some((df, base)) =>
        df.createOrReplaceTempView(name)
        tables(name) = base.getOrElse(TableDef.Empty)
        true
      case None => false
    }

  def createView(name: String, sql: String,
                 columns: Seq[String] = Seq.empty): Unit = {
    val df0 = query(sql)
    val df = if (columns.isEmpty) df0 else df0.toDF(columns: _*)
    val replaced = viewDefs.contains(name)
    viewDefs(name) = sql
    viewDeps(name) = SqlRewrite.tableRefs(sql)
    if (columns.nonEmpty) viewCols(name) = columns
    brokenViews.remove(name)
    // `SELECT * FROM t` views take the source's column definitions so
    // DESCRIBE and SHOW CREATE render varchar(20)/enum/year shapes, not
    // the physical type (rowexec/show.go describes the view's underlying
    // declared schema)
    val StarFrom =
      """(?is)^\s*SELECT\s+\*\s+FROM\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*;?\s*$""".r
    if (replaced) tables.remove(name)
    if (columns.isEmpty) sql match {
      case StarFrom(src0) => tables.get(canonicalTable(src0)).foreach(d =>
        tables(name) = TableDef(columns = d.columns.map { case (c, cd) =>
          c -> cd.copy(default = None, onUpdate = None, generated = None, stored = false) }))
      case _ => ()
    }
    if (name.contains(".")) replaceTable(name, df, bumpDepth = false)
    else df.createOrReplaceTempView(name)
  }

  // ---- INSERT INTO ... SELECT -------------------------------------------
  // Append semantics over the memory backend. Chaining a view as
  // `old UNION new` per insert builds an O(N)-deep plan that re-runs every
  // prior SELECT on each read, so past a small depth the accumulated union
  // is materialized to a parquet warehouse table and the view becomes a
  // single scan — bounded plan depth and O(1) read cost regardless of
  // insert count. Old generations are retained: dependent DataFrame views
  // (CTAS/createView) capture the physical plan and may still pin them.

  private val insertDepth =
    scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val insertGen =
    scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private val MaxUnionDepth = 4

  /** INSERT INTO t SELECT ... — append semantics over the memory backend. */
  def insertIntoSelect(table: String, sql: String): Long =
    insertDf(table, query(sql), fillMissing = false)

  /** Write one insert batch: its image (`imageInsert`), then its checks
    * and write (`checkInsert`). Returns the number of rows written. */
  private[graft] def insertDf(table: String, incoming0: DataFrame,
                              fillMissing: Boolean,
                              ignoreDups: Boolean = false): Long =
    checkInsert(imageInsert(table, incoming0, fillMissing, ignoreDups))()

  /** The image of an insert batch, the one every insert-shaped write
    * (INSERT, REPLACE, LOAD DATA, ON DUPLICATE KEY UPDATE's new rows)
    * takes: DEFAULT and AUTO_INCREMENT fill and each column's write
    * conversion (coerceAndFill), time precision, generated columns, ENUM
    * index coercion, canonical JSON (a malformed document is 3140 even
    * under IGNORE, script_queries.go), VECTOR dimensions, and then the
    * conversion flags settle (settleWrite): strict, the first failure
    * is MySQL's error; under IGNORE or non-strict mode each value
    * coerces with a warning. */
  private[graft] def imageInsert(table: String, incoming0: DataFrame,
      fillMissing: Boolean, ignore: Boolean): Engine.InsertBatch = {
    rejectExplicitGenerated(table, incoming0)
    val strict = strictWrites && !ignore
    val filled = coerceAndFill(table, incoming0, fillMissing, ignoreMode = !strict)
    var rows = coerceVocab(table, computeGenerated(table, truncateTimePrecision(table,
      Dml.applyBeforeTriggers(this, table, "INSERT", filled, org.apache.spark.sql.functions.lit(true)))))
    tableDef(table).columns.collect { case (cl, d) if d.json => cl }
      .foreach { cl =>
        rows.columns.find(_.toLowerCase == cl).foreach { c =>
          val asStr = rows(c).cast("string")
          rows.filter(asStr.isNotNull && !graft.functions.json.jsonValid(asStr))
            .select(asStr).limit(1).collect().headOption.foreach { r =>
              throw new IllegalArgumentException(
                s"Invalid JSON text: '${r.get(0)}' for column '$c' " +
                "(MySQL error 3140)")
            }
          rows = rows.withColumn(c, GraftBridge.column(graft.functions.json.JsonCanon(
            GraftBridge.expression(asStr))))
        }
      }
    validateVecDims(table, rows)
    val provided = incoming0.columns.map(_.toLowerCase).toSet
    val written = provided ++ Dml.beforeTriggers(this, table, "INSERT")
      .flatMap(_.actions.map(_._2.toLowerCase))
    rows = settleWrite(table, rows, strict, written = written)
    if (strict) validateVocab(table, rows)
    Engine.InsertBatch(table, rows, provided, fillMissing, ignore)
  }

  /** The checks of an imaged insert batch against `target` (the table's
    * rows the batch lands beside), and the write. Plain INSERT: CHECK
    * constraints (3819), foreign keys (1452), PRIMARY and UNIQUE keys
    * within the batch and against `target` (1062), unique expression
    * indexes. INSERT IGNORE skips each row that fails a CHECK (1105) or a
    * foreign key (1452), then, in batch order, each row whose key
    * collides with a row of `target` or an earlier kept row (1062,
    * ignoreKeySkips), each with a warning. Nothing is written before the
    * returned write runs; it appends the rows to the table as it is then
    * and returns their number. */
  private[graft] def checkInsert(batch: Engine.InsertBatch,
      target: Option[DataFrame] = None): () => Long = {
    import org.apache.spark.sql.functions._
    val table = batch.table
    val against = target.getOrElse(spark.table(table))
    val rows =
      if (!batch.ignore) {
        validateChecks(table, batch.rows)
        validateForeignKeysChild(table, None, batch.rows)
        enforcePkUnique(table, batch.rows, against)
        enforceUniqueExprs(table, batch.rows, against)
        batch.rows
      } else {
        var rows = batch.rows.withColumn("__rid__", monotonically_increasing_id())
          .localCheckpoint()
        // the failing rows still kept are counted and dropped where they
        // lie; only the key visit brings rows to the driver
        def failing(bad: DataFrame, code: Int, msg: String): Unit = {
          val n = rows.join(bad.select("__rid__"), Seq("__rid__"), "left_semi").count()
          if (n > 0) {
            warnN(n, code, msg)
            rows = rows.join(bad.select("__rid__"), Seq("__rid__"), "left_anti")
          }
        }
        tableDef(table).checks.collect { case (_, ex, true) => ex }
          .foreach { ex =>
            failing(rows.filter(!coalesce(expr(ex).cast("boolean"), lit(true))),
              1105, "check constraint violated (row skipped)")
          }
        fkChildViolations(table, None, rows).foreach { case (_, bad) =>
          failing(bad, 1452, "Cannot add or update a child row: a foreign key constraint fails")
        }
        val skipped = ignoreKeySkips(table, against, None, rows)
        if (skipped.nonEmpty) rows = rows.filter(!col("__rid__").isin(skipped.toSeq: _*))
        rows.drop("__rid__")
      }
    () => {
      // LAST_INSERT_UUID(): a pk column absent from the batch and FILLED
      // from a uuid-bearing declared default generated a fresh UUID per
      // row — record the first (explicit UUID() calls in VALUES were
      // pre-generated at the text layer, Dml.preGenUuids)
      val defn = tableDef(table)
      defn.key.getOrElse(Seq.empty).find { pk =>
        !batch.provided(pk.toLowerCase) &&
          defn.col(pk).default.exists(d =>
            """(?i)\buuid\s*\(\s*\)""".r.findFirstIn(d).isDefined)
      }.foreach { pk =>
        val d = defn.col(pk).default.get
        val swap = """(?i)uuid_to_bin\s*\(.*,\s*(1|true)\s*\)""".r
          .findFirstIn(d).isDefined
        rows.select(col(s"`$pk`")).limit(1).collect().headOption
          .foreach { r =>
            r.get(0) match {
              case s: String if s.nonEmpty => lastInsertUuidVal = s
              case b: Array[Byte] if b.length == 16 =>
                lastInsertUuidVal = bytesToUuid(b, swap)
              case _ =>
            }
          }
      }
      val n = appendStored(table, rows, batch.fillMissing).getOrElse {
        val n = rows.count()
        replaceTable(table, spark.table(table)
          .unionByName(rows, allowMissingColumns = batch.fillMissing), bumpDepth = true)
        n
      }
      // advance the auto-increment counter past the batch (one scalar agg
      // on the insert batch, not the table)
      defn.autoInc
        .filter(c => rows.columns.exists(_.equalsIgnoreCase(c)))
        .foreach { c =>
          // decimal agg: an UNSIGNED BIGINT value past Long.MaxValue
          // (18446744073709551615) must still advance the counter —
          // the Long counter saturates and the exact value is kept for
          // the SHOW CREATE render
          val r = rows.agg(max(col(s"`$c`")
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
            .collect()(0)
          if (!r.isNullAt(0)) {
            val m = BigDecimal(r.getDecimal(0))
            if (m > BigDecimal(Long.MaxValue))
              alterDef(table)(_.copy(autoIncCounter = Some(Long.MaxValue),
                autoIncShown = Some(m)))
            else autoIncObserve(table, m.toLong)
          }
        }
      n
    }
  }

  /** REPLACE INTO and LOAD DATA … REPLACE, one implementation (reference
    * plan/insert.go ReplaceInto). MySQL takes the rows in statement
    * order, each deleting every row it collides with on the PRIMARY key
    * or any UNIQUE key (an earlier row of the batch too) before it is
    * inserted. So the batch keeps the rows no later row collides with,
    * the stored rows any batch row collides with are deleted, firing
    * their foreign-key actions (enforceParentDelete: a referenced row is
    * deleted even though its key comes back), and the kept rows take the
    * INSERT sequence against what is left. Nothing is written unless
    * every check passes. Returns MySQL's affected rows: deleted plus
    * inserted. */
  private[graft] def replaceRows(table: String, incoming: DataFrame,
                                 fillMissing: Boolean): Long = {
    import org.apache.spark.sql.functions._
    val batch = imageInsert(table, incoming, fillMissing, ignore = false)
    val keys = tableDef(table).keys
      .filter(_._2.forall(k => batch.rows.columns.exists(_.equalsIgnoreCase(k))))
    if (keys.isEmpty) return checkInsert(batch)()
    val rows = batch.rows.withColumn("__rid__", monotonically_increasing_id())
      .localCheckpoint()
    // a row is replaced by any later row sharing one of its keys (a NULL
    // UNIQUE key shares nothing), whether or not that row is replaced in
    // turn: one window per key, no visit in order
    val replaced = keys.map { case (_, ks, nullExempt) =>
      val kcols = ks.map(k => col(s"`$k`"))
      val r = if (nullExempt) rows.filter(kcols.map(_.isNotNull).reduce(_ && _)) else rows
      r.withColumn("__last__", max("__rid__").over(
          org.apache.spark.sql.expressions.Window.partitionBy(kcols: _*)))
        .filter(col("__rid__") < col("__last__")).select("__rid__")
    }.reduce(_ union _)
    val current = spark.table(table)
    val kept = keys.foldLeft(current) { case (d, (_, ks, _)) =>
      val hit = rows.select(ks.map(k => col(s"`$k`").as(s"__k_$k")): _*)
      d.join(hit, ks.map(k => d(s"`$k`") === hit(s"`__k_$k`")).reduce(_ && _), "left_anti")
    }
    val deleted = current.count() - kept.count()
    val survivors = rows.join(replaced, Seq("__rid__"), "left_anti")
    val write = checkInsert(batch.copy(rows = survivors.drop("__rid__")), Some(kept))
    val finalKept = enforceParentDelete(table, kept)
    if (deleted > 0) replaceTable(table, finalKept, bumpDepth = true)
    deleted + write()
  }

  /** Declare `table.column` NOT NULL. Only DDL declares it — Spark's
    * inferred nullability is unreliable here (a CTAS from literals infers
    * nullable = false, but MySQL CTAS columns accept NULL), so the
    * strict 1048 check keys off explicit declarations only. */
  def declareNotNull(table: String, column: String): Unit =
    alterCol(table, column)(_.copy(notNull = true))

  /** The first key of `keys` that more than one row of `df` holds, if
    * any: one group-by-count probe, which folds on the driver over
    * stored rows. */
  private def firstDuplicate(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    df.groupBy(keys.toIndexedSeq: _*).count().filter(col("count") > 1)
      .limit(1).collect().headOption
  }

  private def duplicateEntry(table: String, keyName: String,
      r: org.apache.spark.sql.Row, width: Int): Nothing = {
    val entry = (0 until width).map(i => Engine.entryText(r.get(i))).mkString("-")
    throw new IllegalArgumentException(
      s"Duplicate entry '$entry' for key '$table.$keyName' (MySQL error 1062)")
  }

  /** Plain INSERT against declared keys: a duplicate inside the batch or
    * against existing rows is MySQL error 1062 — the PRIMARY key plus
    * every declared UNIQUE key (whose NULL-keyed rows are exempt). */
  private def enforcePkUnique(table: String, batch: DataFrame,
                              target: DataFrame): Unit = {
    tableDef(table).keys.foreach { case (keyName, keys, nullExempt) =>
      if (keys.forall(k => batch.columns.exists(_.equalsIgnoreCase(k)))) {
        import org.apache.spark.sql.functions._
        val kcols = keys.map(k => col(s"`$k`"))
        val nonNull = kcols.map(_.isNotNull).reduce(_ && _)
        val b = if (nullExempt) batch.filter(nonNull) else batch
        // once the batch's keys are distinct, a key counted twice over
        // batch ∪ existing is already stored: a group-by instead of a
        // semi-join; NULL keys never match, as under the join's `=`
        def keysOf(df: DataFrame) =
          df.filter(nonNull).select(kcols.toIndexedSeq: _*)
        firstDuplicate(b, kcols)
          .orElse(firstDuplicate(keysOf(b).union(keysOf(target).distinct()), kcols))
          .foreach(duplicateEntry(table, keyName, _, keys.size))
      }
    }
  }

  /** Post-UPDATE key enforcement: the updated table must stay unique
    * under the PRIMARY key and every declared UNIQUE key (NULL-keyed
    * rows exempt under uniques) — a key-colliding UPDATE is MySQL error
    * 1062. */
  private[graft] def enforcePkUniquePost(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    tableDef(table).keys.foreach { case (keyName, keys, nullExempt) =>
      val kcols = keys.map(k => col(s"`$k`"))
      val nonNull = kcols.map(_.isNotNull).reduce(_ && _)
      firstDuplicate(if (nullExempt) df.filter(nonNull) else df, kcols)
        .foreach(duplicateEntry(table, keyName, _, keys.size))
    }
  }

  /** Row-ordered transient key collisions: MySQL applies UPDATE row by
    * row in primary-key order, so a row's NEW key tuple colliding with a
    * LATER row's not-yet-updated OLD tuple is error 1062 even when the
    * final state would be unique (insert_queries.go "Insert into unique
    * key that overlaps with primary key": UPDATE t SET col = col + 1).
    * Batch formulation: changed rows only, new(i) == old(j) with
    * pk(i) < pk(j) and row j itself changing — one self-join per
    * declared key over the changed subset (bounded by the statement's
    * write set, not the table). */
  private[graft] def enforcePkUniqueTransient(table: String, oldDf: DataFrame,
                                              newDf: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val pk = tableDef(table).key.getOrElse(Seq.empty)
    if (pk.isEmpty) return
    val cols = spark.table(table).columns.toSeq
    val o = oldDf.select((col("`__rid__`").as("__orid__") +:
      cols.map(c => col(s"`$c`").as(s"__o_$c"))).toIndexedSeq: _*)
    val n = newDf.select((col("`__rid__`").as("__nrid__") +:
      cols.map(c => col(s"`$c`").as(s"__n_$c"))).toIndexedSeq: _*)
    val changedCond = cols.map(c =>
      !(col(s"`__o_$c`") <=> col(s"`__n_$c`"))).reduce(_ || _)
    val ch = o.join(n, col("__orid__") === col("__nrid__"))
      .filter(changedCond)
      .withColumn("__pkord__",
        struct(pk.map(k => col(s"`__o_$k`")).toIndexedSeq: _*))
      .localCheckpoint() // tiny (changed rows' keys); reused per key
    tableDef(table).keys.foreach { case (keyName, keys, nullExempt) =>
      val newSide = ch.select(col("__pkord__").as("__pi__"),
        struct(keys.map(k => col(s"`__n_$k`")).toIndexedSeq: _*).as("__nt__"))
      val newF = if (nullExempt)
        newSide.filter(keys.indices.map(i =>
          col("__nt__").getField(s"__n_${keys(i)}").isNotNull)
          .reduce(_ && _))
        else newSide
      val oldSide = ch.select(col("__pkord__").as("__pj__"),
        struct(keys.map(k => col(s"`__o_$k`")).toIndexedSeq: _*).as("__ot__"))
      val hit = newF.join(oldSide,
        col("__nt__") === col("__ot__") && col("__pj__") > col("__pi__"))
        .limit(1).collect()
      hit.headOption.foreach { r =>
        val entry = r.getStruct(1).toSeq.map(String.valueOf).mkString("-")
        throw new IllegalArgumentException(
          s"Duplicate entry '$entry' for key '$table.$keyName' " +
          s"(MySQL error 1062)")
      }
    }
  }

  /** IGNORE key-conflict resolution, the one key-order visit of every
    * IGNORE write (reference update_queries.go UpdateIgnoreScripts,
    * insert_queries.go INSERT IGNORE): each row of `newDf` (`__rid__` and
    * its new key) is visited in turn, and a row whose new key collides
    * with a key of `stored` or of a row already visited AT THAT MOMENT is
    * skipped with a 1062 warning. For an UPDATE, `oldDf` holds each row's
    * old key, `stored` is the table (those rows included, under their old
    * keys), a row whose key does not change never collides, and the rows
    * are visited in storage order (the key order Spark sorts by, which
    * replaceTable keeps a keyed table in). Without `oldDf` the rows are
    * new rows visited in `__rid__` (batch) order. The visit is
    * sequential (each decision feeds the next), so it runs on the driver,
    * over the rows that can take part in a collision only: for an UPDATE
    * the rows whose key changes (a row that keeps its keys neither
    * collides nor frees a key), for new rows those holding a key another
    * new row or a stored row holds. Those rows, and the stored rows that
    * share a key with one of them, are bounded by `Engine.DriverVisitRows`,
    * past which the statement fails before it writes. Returns the
    * `__rid__`s of the skipped rows. */
  private[graft] def ignoreKeySkips(table: String, stored: DataFrame,
      oldDf: Option[DataFrame], newDf: DataFrame): Set[Long] = {
    import org.apache.spark.sql.functions.col
    val declared = tableDef(table).keys
      .filter(_._2.forall(k => newDf.columns.exists(_.equalsIgnoreCase(k))))
    if (declared.isEmpty) return Set.empty
    val keyCols = declared.flatMap(_._2).distinct
    def cols(keys: Seq[String]) = keys.map(k => col(s"`$k`"))
    val newKeys = newDf.select(col("__rid__") +: cols(keyCols): _*)
    val candidates = oldDf match {
      case Some(o) =>
        val oldKeys = o.select(col("__rid__") +: keyCols.map(k => col(s"`$k`").as(s"__o_$k")): _*)
        newKeys.join(oldKeys, "__rid__")
          .filter(keyCols.map(k => !(col(s"`$k`") <=> col(s"`__o_$k`"))).reduce(_ || _))
          .select(newKeys.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
      case None =>
        declared.map { case (_, keys, nullExempt) =>
          val mine = newDf.select(cols(keys): _*)
          val held = if (nullExempt) mine.filter(cols(keys).map(_.isNotNull).reduce(_ && _)) else mine
          val shared = held.union(stored.join(held.distinct(), keys, "left_semi").select(cols(keys): _*))
            .groupBy(cols(keys): _*).count().filter(col("count") > 1).drop("count")
          newKeys.join(shared, keys, "left_semi")
            .select(newKeys.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        }.reduce(_ union _).distinct()
    }
    def visit(df: DataFrame): Seq[org.apache.spark.sql.Row] = {
      val rs = df.limit(Engine.DriverVisitRows + 1).collect().toSeq
      require(rs.size <= Engine.DriverVisitRows,
        s"IGNORE key-collision visit over more than ${Engine.DriverVisitRows} rows " +
          "exceeds the driver gate: not a supported batch-analytics shape")
      rs
    }
    def keyed(df: DataFrame): Seq[(Long, Seq[Any])] =
      visit(df).map(r => r.getLong(0) -> (1 until r.length).map(i => Engine.keyValue(r.get(i))))
    val news = keyed(candidates)
    if (news.isEmpty) return Set.empty
    val olds = oldDf.map(o => keyed(o.select(col("__rid__") +: cols(keyCols): _*)
      .join(candidates.select("__rid__"), Seq("__rid__"), "left_semi")
      .orderBy(cols(declared.head._2) :+ col("__rid__"): _*)))
    val order = olds.fold(news.map(_._1).sorted)(_.map(_._1))
    val oldOf = olds.map(_.toMap)
    val newOf = news.toMap
    val colIdx = keyCols.zipWithIndex.toMap
    def tuple(vals: Seq[Any], keys: Seq[String]): Seq[Any] =
      keys.map(k => vals(colIdx(k)))
    val current = declared.map { case (_, keys, _) =>
      val m = scala.collection.mutable.Map.empty[Seq[Any], Int].withDefaultValue(0)
      visit(stored.join(candidates.select(cols(keys): _*).distinct(), keys, "left_semi")
        .select(cols(keys): _*))
        .foreach(r => m(r.toSeq.map(Engine.keyValue)) += 1)
      m
    }
    val skipped = Set.newBuilder[Long]
    order.foreach { rid =>
      val n = newOf(rid)
      val o = oldOf.map(_(rid))
      val conflictKey = declared.zip(current).collectFirst {
        case ((kname, keys, nullExempt), m)
            if {
              val nt = tuple(n, keys)
              !o.map(tuple(_, keys)).contains(nt) &&
                !(nullExempt && nt.contains(null)) && m(nt) > 0
            } => (kname, tuple(n, keys))
      }
      conflictKey match {
        case Some((kname, nt)) =>
          skipped += rid
          // diagnostics-area feed (reference rowexec/update.go ignore
          // path converts the duplicate-key error into a warning)
          warn(1062, s"Duplicate entry " +
            s"'${nt.map(Engine.entryText).mkString("-")}' for key " +
            s"'$table.$kname'")
        case None =>
          declared.zip(current).foreach { case ((_, keys, _), m) =>
            val (nt, ot) = (tuple(n, keys), o.map(tuple(_, keys)))
            if (!ot.contains(nt)) { ot.foreach(m(_) -= 1); m(nt) += 1 }
          }
      }
    }
    skipped.result()
  }

  /** ADD UNIQUE / CREATE UNIQUE INDEX validation: existing rows must
    * already be unique under the key (NULL-keyed rows exempt) — MySQL
    * error 1062 otherwise. */
  private[graft] def validateNoDuplicates(table: String, keyName: String,
                                          cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val kcols = cols.map(c => col(s"`$c`"))
    firstDuplicate(spark.table(table).filter(kcols.map(_.isNotNull).reduce(_ && _)), kcols)
      .foreach(duplicateEntry(table, keyName, _, cols.size))
  }

  /** The shared write-time preparation every insert-shaped statement
    * (INSERT / REPLACE / ON DUPLICATE KEY UPDATE) must take: declared
    * DEFAULT fill, AUTO_INCREMENT fill, and coercion of incoming values
    * to the target column types (reference sql/types Convert on insert).
    * Routing REPLACE/upsert through anything weaker lets a mistyped
    * literal widen the stored schema via union coercion. */
  /** Declared-DEFAULT expression as a Column — under a frozen statement
    * clock (OnUpdateExpr harness), now-family defaults take the frozen
    * value instead of the wall clock. */
  private def defaultColumn(d: String,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    val nowish =
      """(?i)^\(?\s*(?:CURRENT_TIMESTAMP|NOW|LOCALTIME(?:STAMP)?)\s*(?:\(\s*\d*\s*\))?\s*\)?$""".r
    val isTemporal = dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType ||
      dt == org.apache.spark.sql.types.DateType
    if (queryNow.isDefined && nowish.findFirstIn(d.trim).isDefined)
      nowColumn(0).cast(dt)
    // numeric zero-date defaults (`dt datetime DEFAULT 0`) are MySQL
    // zero dates — stored NULL here (no representable zero date), and a
    // numeric→timestamp cast wouldn't even resolve
    else if (isTemporal && d.trim.matches("^-?\\d+(\\.\\d+)?$"))
      org.apache.spark.sql.functions.lit(null).cast(dt)
    else org.apache.spark.sql.functions.expr(d).cast(dt)
  }

  private[graft] def coerceAndFill(table: String, incoming0: DataFrame,
                                   fillMissing: Boolean,
                                   ignoreMode: Boolean = false): DataFrame = {
    // unmentioned columns take their declared DEFAULT (remaining gaps
    // null-fill via unionByName)
    val target = spark.table(table)
    val present = incoming0.columns.map(_.toLowerCase).toSet
    // Declared-DEFAULT fill runs to a fixpoint so expression defaults may
    // reference sibling columns in either direction — back references to
    // supplied values (t8: DEFAULT (v2 + 1)) and references to other
    // DEFAULTs (t5/t6: DEFAULT (v2), v2 DEFAULT 7) — matching
    // column_default_queries.go:100-180. A default is applied once every
    // column it mentions is present; literal defaults resolve first pass.
    val defaultFilled =
      if (!fillMissing) incoming0
      else {
        var df = incoming0
        var pending = target.schema.fields.filter(f =>
          !present(f.name.toLowerCase) &&
            colDef(table, f.name).default.isDefined).toList
        var progress = true
        while (progress && pending.nonEmpty) {
          progress = false
          val (ready, notReady) = pending.partition { f =>
            val d = colDef(table, f.name).default.get
            val refs =
              try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parseExpression(d).collect {
                  case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                    a.name
                }
              catch { case _: Exception => Seq.empty[String] }
            refs.forall(r => df.columns.exists(_.equalsIgnoreCase(r)))
          }
          ready.foreach { f =>
            val d = colDef(table, f.name).default.get
            df = df.withColumn(f.name, defaultColumn(d, f.dataType))
            progress = true
          }
          pending = notReady
        }
        // unresolvable references fall through as before (analysis error
        // at write, like a bad default in MySQL)
        pending.foreach { f =>
          val d = colDef(table, f.name).default.get
          df = df.withColumn(f.name, defaultColumn(d, f.dataType))
        }
        df
      }
    val nowPresent = defaultFilled.columns.map(_.toLowerCase).toSet
    val incoming =
      if (!fillMissing) defaultFilled
      else target.schema.fields.foldLeft(defaultFilled) { (df, f) =>
        if (nowPresent(f.name.toLowerCase)) df
        else colDef(table, f.name).default match {
          case Some(d) =>
            df.withColumn(f.name, defaultColumn(d, f.dataType))
          case None
              if tableDef(table).autoInc.exists(_.equalsIgnoreCase(f.name)) =>
            // next-value fill from the monotonic per-table counter (the
            // reference's auto-increment editor; survives deletes). The
            // window is over the (small) insert batch, not the table.
            import org.apache.spark.sql.functions._
            val next = autoIncNext(table)
            lastInsertIdVal = next // first generated id of this statement
            df.withColumn(f.name,
              (lit(next - 1) + row_number().over(
                org.apache.spark.sql.expressions.Window.orderBy(
                  monotonically_increasing_id())))
                .cast(f.dataType))
          case None
              if colDef(table, f.name).notNull &&
                colDef(table, f.name).vocab
                  .exists(!_._1) =>
            // MySQL's NOT NULL ENUM special case: no declared default →
            // the FIRST member fills omitted inserts (script_queries.go
            // "special case for not null default enum"; nullable enums
            // stay NULL)
            import org.apache.spark.sql.functions.lit
            df.withColumn(f.name,
              lit(colDef(table, f.name).vocab.get._2.head)
                .cast(f.dataType))
          case None
              if colDef(table, f.name).notNull &&
                !tableDef(table).isGenerated(f.name) =>
            // a NOT NULL column with no declared default omitted from
            // the insert is MySQL 1364 in strict mode; non-strict /
            // IGNORE stores the type's implicit default with a warning
            // (script_queries.go "ALTER TABLE, ALTER COLUMN SET, DROP
            // DEFAULT": the post-DROP DEFAULT insert must fail)
            if (strictWriteMode && !ignoreMode)
              throw new IllegalArgumentException(
                s"Field '${f.name}' doesn't have a default value " +
                "(MySQL error 1364)")
            warn(1364, s"Field '${f.name}' doesn't have a default value")
            zeroValueLit(f.dataType) match {
              case Some(z) => df.withColumn(f.name, z.cast(f.dataType))
              case None => df
            }
          case None => df
        }
      }
    // an auto-increment column PRESENT in the batch still generates for
    // NULL (and 0, unless NO_AUTO_VALUE_ON_ZERO) values — MySQL's
    // explicit-NULL form `INSERT INTO auto VALUES (NULL, 10)`
    // (insert_queries.go:1055; sql_mode.go NO_AUTO_VALUE_ON_ZERO)
    val incomingAi = tableDef(table).autoInc match {
      case Some(c) if incoming.columns.exists(_.equalsIgnoreCase(c)) &&
          present(c.toLowerCase) =>
        import org.apache.spark.sql.functions._
        val zeroGenerates = !sqlModeString.toUpperCase
          .contains("NO_AUTO_VALUE_ON_ZERO")
        val flag =
          if (zeroGenerates) col(s"`$c`").isNull || col(s"`$c`") === 0
          else col(s"`$c`").isNull
        val anyGen = incoming.filter(flag).limit(1).count() > 0
        if (!anyGen) incoming
        else {
          val next = autoIncNext(table)
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(monotonically_increasing_id())
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
          val dt = target.schema.fields
            .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.LongType)
          // MySQL iterates the batch in row order: an EXPLICIT value
          // advances the counter, so later generated rows continue past
          // it (`(NULL),(10),(0)` -> 1, 10, 11 — insert_queries.go
          // "auto increment on tinyint"). Closed form: with F = running
          // count of generated rows and v the explicit values, row i
          // gets F(i) + max(next-1, max over preceding explicit rows of
          // (v - F)) — each explicit max carries forward bumped by the
          // generated rows after it.
          val assigned = incoming
            .withColumn("__ai_flag__", flag)
            .withColumn("__ai_f__",
              sum(col("__ai_flag__").cast("long")).over(w))
            .withColumn("__ai_adj__",
              when(!col("__ai_flag__"),
                col(s"`$c`").cast("long") - col("__ai_f__")))
            .withColumn(c,
              when(col("__ai_flag__"),
                (greatest(lit(next - 1),
                  coalesce(max(col("__ai_adj__")).over(w),
                    lit(Long.MinValue))) + col("__ai_f__")).cast(dt))
                .otherwise(col(s"`$c`")))
          // LAST_INSERT_ID() = the FIRST GENERATED value of the
          // statement, which may exceed `next` when an earlier explicit
          // value advanced the counter in-batch (`(10),(default)` →
          // 11, not next — script_queries.go "last_insert_id(default)
          // behavior"). Generated values are monotone within the batch,
          // so min over generated rows IS the first.
          val firstGen = assigned.filter(col("__ai_flag__"))
            .agg(min(col(s"`$c`").cast("long"))).collect()(0)
          if (!firstGen.isNullAt(0)) lastInsertIdVal = firstGen.getLong(0)
          assigned.drop("__ai_flag__", "__ai_f__", "__ai_adj__")
        }
      case _ => incoming
    }
    // MySQL coerces incoming values to the column type on write: each
    // column takes its write conversion, flags included (writeConversion)
    val targetTypes = target.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    incomingAi.columns.foldLeft(incomingAi) { (df, c) =>
      targetTypes.get(c.toLowerCase).fold(df) { dt =>
        val in = df(c)
        val (v, flags) = writeConversion(table, c, in, df.schema(c).dataType, dt,
          lenient = ignoreMode)
        if (flags.isEmpty && (v eq in)) df else df.withColumns((flags :+ (c -> v)).toMap)
      }
    }
  }

  /** One value's write conversion into `table`.`c` (stored type `dt`),
    * the one INSERT's batch and UPDATE's row image both take (reference
    * sql/types Convert on insert, rowexec/update.go:98
    * convertDataAndWarn). Returns `raw` (of type `src`) converted — the
    * `raw` object itself when it already has the stored type and nothing
    * pads it — and the flags of its failures for settleWrite, each a
    * flag column and the offending value's text on a failing row in
    * `gate`:
    *  - 1366: a conversion that fails (non-NULL in, NULL out; under
    *    IGNORE or non-strict mode the type zero is stored —
    *    insert_queries.go "INSERT IGNORE properly addresses data
    *    conversion");
    *  - 1264: a number outside the column's range, UNSIGNED and
    *    MEDIUMINT bounds included, or too wide for a DECIMAL (strict);
    *    under IGNORE or non-strict mode an integer clamps to the bound
    *    (rowexec/insert.go ConvertRound + ErrValueOutOfRange);
    *  - 1292 (strict): a string no MySQL date/time parse accepts (zero
    *    dates are valid writes, stored as NULL).
    * MySQL rounds fractional values into integral columns (Spark's cast
    * truncates); strings take the MySQL-lenient date canonicalizer;
    * booleans write '1'/'0' into strings; hex literals into numbers are
    * the big-endian number their bytes spell; binary into a CHARACTER
    * column must be valid utf8mb4 (Utf8BinToStr); YEAR windows two-digit
    * years first; wide DECIMAL (p > 38) canonicalizes through
    * WideDecCoerce; VECTOR decodes binary payloads as packed float32 and
    * rejects bare strings; fixed BINARY(n) zero-pads to its width. */
  private[graft] def writeConversion(table: String, c: String,
      raw0: org.apache.spark.sql.Column, src0: org.apache.spark.sql.types.DataType,
      dt: org.apache.spark.sql.types.DataType, lenient: Boolean,
      gate: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true))
      : (org.apache.spark.sql.Column, Seq[(String, org.apache.spark.sql.Column)]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import GraftBridge.{column, expression}
    val cd = colDef(table, c)
    val (raw, src) =
      if (cd.year) (column(graft.functions.expressions.MySqlYearCast(
        expression(raw0))).cast(IntegerType), IntegerType)
      else (raw0, src0)
    // a widening conversion (Cast.canUpCast) or a number into FLOAT or
    // DOUBLE cannot fail, so it plants no flag; declared UNSIGNED and
    // MEDIUMINT bounds are narrower than the stored type's
    val canFail = !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(src, dt) &&
      !(src.isInstanceOf[NumericType] && (dt == FloatType || dt == DoubleType))
    val bounds = cd.unsigned
      .orElse(if (cd.textKind.contains("mediumint"))
        Some((BigDecimal(-8388608), BigDecimal(8388607))) else None)
      .orElse(integralBounds(dt).filter(_ => canFail)
        .map { case (lo, hi) => (BigDecimal(lo), BigDecimal(hi)) })
      .filter(_ => isNumericSource(src))
    val temporal = src.isInstanceOf[StringType] &&
      (dt == DateType || dt == TimestampType || dt == TimestampNTZType)
    val casted = cd.wideDec match {
      case Some((p, s)) =>
        column(graft.functions.WideDecCoerce(expression(raw), p, s, !lenient))
      case _ if src == dt => raw
      case _ => (src, dt) match {
        case (_, ArrayType(FloatType, _)) if cd.vecDim.isDefined => src match {
          case BinaryType =>
            column(graft.functions.vector.VecCoerce(expression(raw))).cast(dt)
          case _: StringType => throw new IllegalArgumentException(
            "value of type string cannot be converted to 'vector' type (use STRING_TO_VECTOR)")
          case _ => raw.cast(dt)
        }
        case (BinaryType, _: NumericType) => conv(hex(raw), 16, 10).cast(dt)
        case (BinaryType, _: StringType) => column(
          graft.functions.expressions.Utf8BinToStr(expression(raw), c, !lenient)).cast(dt)
        case (BooleanType, _: StringType) =>
          when(raw === true, "1").when(raw === false, "0").cast(dt)
        case (DoubleType | FloatType | _: DecimalType, _) if integralBounds(dt).isDefined =>
          round(raw).cast(dt)
        case _ if temporal => column(graft.functions.expressions.MySqlDateStrNorm(
          expression(raw))).cast(dt)
        case _ => raw.cast(dt)
      }
    }
    val asDec = raw.cast(DecimalType(38, 0))
    val outOfRange = bounds.map { case (lo, hi) =>
      raw.isNotNull && asDec.isNotNull && (asDec < lit(lo.bigDecimal) || asDec > lit(hi.bigDecimal))
    }
    val failed = raw.isNotNull && casted.isNull
    val zero = zeroValueLit(dt).filter(_ => canFail && cd.wideDec.isEmpty &&
      !(src == BinaryType && dt.isInstanceOf[StringType]))
    val decimalOverflow = dt.isInstanceOf[DecimalType] && !lenient &&
      isNumericSource(src) && !src.isInstanceOf[StringType]
    def flag(code: Int, cond: org.apache.spark.sql.Column) =
      s"__w${code}_${c}__" -> when(gate && cond, raw.cast(StringType))
    val flags =
      outOfRange.map(flag(1264, _)).toSeq ++
        zero.map(_ => flag(if (decimalOverflow) 1264 else 1366,
          if (outOfRange.isDefined) failed && asDec.isNull else failed)) ++
        Some(flag(1292, failed && !raw.rlike("^[0\\-:./ ]+$"))).filter(_ => temporal && !lenient)
    val value = (outOfRange, zero) match {
      case _ if !lenient => casted
      case (Some(oor), z) =>
        val (lo, hi) = bounds.get
        val clamped = when(oor, when(asDec > lit(hi.bigDecimal), lit(hi.bigDecimal))
          .otherwise(lit(lo.bigDecimal)).cast(dt))
        z.fold(clamped.otherwise(casted))(z =>
          clamped.when(failed && asDec.isNull, z).otherwise(casted))
      case (None, Some(z)) => when(failed, z).otherwise(casted)
      case _ => casted
    }
    cd.binPad.filter(_ => dt == BinaryType)
      .fold(value)(n => rpad(value.cast(BinaryType), n, Array[Byte](0))) -> flags
  }

  /** Declared DATETIME(p)/TIMESTAMP(p) truncates the stored fractional
    * seconds to p digits on write (bare datetime is datetime(0) — the
    * reference stores the converted value; create_table_queries.go
    * "datetime precision" inserts '…00.123456' into datetime(3) and
    * reads back .123). Applied after type alignment so the input is
    * already a timestamp. */
  private[graft] def truncateTimePrecision(table: String,
                                           incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    // only tables this engine created carry MySQL datetime(p) semantics;
    // parquet-backed relations keep their native microseconds
    val defn = tables.getOrElse(table, return incoming)
    val target = scala.util.Try(spark.table(table)).toOption
      .getOrElse(return incoming)
    target.schema.fields.foldLeft(incoming) { (df, f) =>
      val isTs =
        f.dataType == TimestampType || f.dataType == TimestampNTZType
      val cOpt = df.columns.find(_.equalsIgnoreCase(f.name))
      if (!isTs || cOpt.isEmpty || defn.isGenerated(f.name)) df
      else {
        val p = defn.col(f.name).timePrecision.getOrElse(0)
        if (p >= 6) df
        else {
          val fdiv = math.pow(10, 6 - p).toLong
          val c = cOpt.get
          val back =
            if (f.dataType == TimestampNTZType) "timestamp_ntz"
            else "timestamp"
          // MySQL ROUNDS fractional seconds into datetime(p), it does
          // not truncate (types/datetime.go: '…56.123456' into
          // datetime(4) stores .1235)
          df.withColumn(c, org.apache.spark.sql.functions.expr(
            s"cast(timestamp_micros(((unix_micros(cast(`$c` as timestamp))" +
              s" + ${fdiv / 2}) div $fdiv) * $fdiv) as $back)"))
        }
      }
    }
  }

  /** Clamp bounds for the integral column types (reference
    * sql/types/number.go range table). */
  private[graft] def integralBounds(dt: org.apache.spark.sql.types.DataType)
      : Option[(Long, Long)] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Some((Byte.MinValue.toLong, Byte.MaxValue.toLong))
      case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
      case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
      case LongType => Some((Long.MinValue, Long.MaxValue))
      case _ => None
    }
  }

  private def isNumericSource(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => true
      case _: StringType => true
      case _ => false
    }
  }

  /** Re-point the table view at a new generation built as a frame (DDL,
    * CTAS, REPLACE, and the writes that cannot go row by row; a write to
    * a driver-held generation goes through `storeGeneration` instead and
    * re-plans none of the stored rows). One size rule picks where the
    * generation lives:
    *
    *  - Small: the optimizer's size estimate of the new contents fits
    *    `Tables.fitsBroadcast` (the session's autoBroadcastJoinThreshold,
    *    the gate `Tables.dim` uses). The rows are kept on the driver as
    *    ONE `plans.StoredRelation` over a Vector of UnsafeRows, like the
    *    reference's in-memory table (memory/table.go). A plan the
    *    optimizer already folded to one LocalRelation (plans.FoldLocalRows
    *    and ConvertToLocalRelation over stored generations and VALUES
    *    batches) is stored without a job; anything else runs one
    *    `executeCollect`. The measured bytes of the rows are checked
    *    against the same threshold, so an estimate that undershoots (a
    *    generator such as `explode`) falls through to the file path below
    *    instead of keeping the rows; that one collect is bounded by the
    *    estimate alone. Later reads fold in the optimizer (the stored
    *    rows' Filter/Project chain, global Sort and non-DISTINCT
    *    declarative Aggregate by plans.FoldLocalRows, a Limit above them
    *    by ConvertToLocalRelation) and run with no job, no file scan and
    *    no generated predicate class, plans stay flat across any number
    *    of statements, and union-over-values trees never reach the
    *    optimizer (Spark's PushProjectionThroughUnion mishandles
    *    correlated outer references over such unions — "key not found"
    *    at optimization time).
    *  - Otherwise (or with broadcasting disabled): the view unions the new
    *    plan over the old one until the accumulated depth crosses
    *    MaxUnionDepth, and then materializes a warehouse parquet
    *    generation. */
  private[graft] def replaceTable(table: String, df0: DataFrame,
                                  bumpDepth: Boolean): Unit = {
    replaceTableInner(table, df0, bumpDepth)
    refreshViews(table)
  }

  private def replaceTableInner(table: String, df00: DataFrame,
                                bumpDepth: Boolean): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // wide DECIMAL columns re-stamp their field-metadata marker on every
    // generation (DML withColumn chains drop metadata) so
    // WideDecCompareRule keeps seeing them on reads
    val defn = tableDef(canonicalTable(table))
    val df0a = defn.columns.foldLeft(df00) {
      case (d, (c, cd)) if cd.wideDec.isDefined &&
          d.columns.exists(_.equalsIgnoreCase(c)) =>
        val actual = d.columns.find(_.equalsIgnoreCase(c)).get
        val (p, s) = cd.wideDec.get
        d.withMetadata(actual, graft.functions.WideDecimal.metadata(p, s))
      case (d, _) => d
    }
    // declared DATETIME(p)/TIMESTAMP(p) precision rides as field
    // metadata too (UNIX_TIMESTAMP result scaling)
    val df0 = defn.columns.foldLeft(df0a) {
      case (d, (c, cd)) if cd.timePrecision.exists(_ > 0) &&
          d.columns.exists(_.equalsIgnoreCase(c)) =>
        val actual = d.columns.find(_.equalsIgnoreCase(c)).get
        d.withMetadata(actual,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("graft_time_prec", cd.timePrecision.get.toLong).build())
      case (d, _) => d
    }
    // dolt tables are CLUSTERED BY PRIMARY KEY: scans iterate in pk
    // order, which LIMIT/OFFSET-without-ORDER-BY and GROUP_CONCAT
    // observe. Store pk-sorted to match (insertion order otherwise).
    val df = defn.key match {
      case Some(pk) if pk.nonEmpty &&
          pk.forall(c => df0.columns.exists(_.equalsIgnoreCase(c))) =>
        df0.orderBy(pk.map(org.apache.spark.sql.functions.col): _*)
      case _ => df0
    }
    // db-qualified target: temp views can't carry a dot, so the new
    // contents materialize to a warehouse generation and the CATALOG view
    // `db`.`t` re-points at the files — `USE db1; UPDATE db2.t …` then a
    // cross-db SELECT reads the new rows (reference sql/planbuilder/dml.go
    // resolves qualified DML targets against the catalog)
    if (table.contains(".")) {
      val Array(db, t) = table.split("\\.", 2)
      val g = insertGen(table) + 1
      insertGen(table) = g
      val path = durablePath(s"${db}__${t}__dml_$g")
      df.write.mode("overwrite").parquet(path)
      spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$t` AS SELECT * FROM parquet.`$path`")
      insertDepth(table) = 0
      return
    }
    val qe = df.queryExecution
    if (Tables.fitsBroadcast(spark, qe.optimizedPlan.stats.sizeInBytes)) {
      val (output, rows0) = qe.optimizedPlan match {
        case l: LocalRelation => (l.output, l.data)
        case _ => (qe.executedPlan.output, qe.executedPlan.executeCollect().toSeq)
      }
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(output))
      val rows = rows0.iterator.map {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u
        case r => toUnsafe(r).copy()
      }.toVector
      if (keepOnDriver(table, StoredRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema), Generation(rows))))
        return
    }
    val d = insertDepth(table) + (if (bumpDepth) 1 else 0)
    if (d < MaxUnionDepth) {
      df.createOrReplaceTempView(table)
      insertDepth(table) = d
    } else {
      // new generation path each time: the current view reads generation
      // g-1's files, so the write must not overwrite them mid-scan
      val g = insertGen(table) + 1
      val path = durablePath(s"${table}__ins_$g")
      df.write.mode("overwrite").parquet(path)
      Tables.read(spark, path).createOrReplaceTempView(table)
      insertGen(table) = g
      insertDepth(table) = 0
    }
  }

  /** Point `table`'s view at `rows` held on the driver when their
    * measured bytes pass `Tables.fitsBroadcast`. */
  private def keepOnDriver(table: String, stored: StoredRelation): Boolean = {
    val fits = Tables.fitsBroadcast(spark, stored.gen.bytes)
    if (fits) {
      GraftBridge.ofRows(spark, stored).createOrReplaceTempView(table)
      insertDepth(table) = 0
    }
    fits
  }

  // ---- row-level writes on driver-held generations ----------------------
  // A generation kept on the driver is an immutable Vector of UnsafeRows,
  // the reference's in-memory table (memory/table_data.go). UPDATE and
  // DELETE evaluate WHERE once per stored row and re-project only the
  // rows they change; INSERT appends its batch. Each write publishes a
  // new Vector (`Vector.updated` shares the untouched rows), so a
  // DataFrame taken before the write still reads its own rows.

  /** The driver-held generation of `table`: the StoredRelation its view
    * was created from (by replaceTableInner or storeGeneration). None for
    * a parquet- or union-backed table and for a db-qualified name. */
  private[graft] def storedGeneration(table: String): Option[StoredRelation] =
    if (table.contains(".")) None
    else GraftBridge.tempViewPlan(spark, table).collect { case s: StoredRelation => s }

  /** Publish `stored` as the new generation of `table`, with fresh
    * attributes and without an optimizer pass over the rows. Rows past
    * `Tables.fitsBroadcast` (the optimizer's estimate for a
    * LocalRelation of them, or their measured bytes) take replaceTable's
    * union/parquet path instead. */
  private[graft] def storeGeneration(table: String, stored: StoredRelation): Unit = {
    val fresh = stored.newInstance()
    val estimate = org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(fresh.output) * fresh.gen.rows.length
    if (!(Tables.fitsBroadcast(spark, estimate) && keepOnDriver(table, fresh)))
      replaceTableInner(table,
        GraftBridge.ofRows(spark, LocalRelation(fresh.output, fresh.gen.rows)), bumpDepth = true)
    refreshViews(table)
  }

  /** `stored` as a frame of `table` with fresh attributes, qualified by
    * the table name like a read of its view. */
  private[graft] def storedFrame(table: String, stored: StoredRelation): DataFrame =
    GraftBridge.ofRows(spark, SubqueryAlias(table, stored.newInstance()))

  /** The driver-held generation of `table` and the rows `gate` selects.
    * The gate is evaluated once per stored row, interpreted
    * (FoldLocalRows.rowTest): a generated class would embed the WHERE's
    * literals, and compile once per key. None when the table is not driver-held or the
    * gate is not evaluable there (FoldLocalRows.evaluable: a
    * nondeterministic gate or a subquery keeps the frame path). */
  private[graft] def storedMatch(table: String,
      gate: Option[org.apache.spark.sql.Column]): Option[Engine.StoredMatch] =
    storedGeneration(table).flatMap { stored =>
      val rows = stored.gen.rows
      gate match {
        case None => Some(Engine.StoredMatch(stored, rows.indices))
        case Some(g) =>
          val probe = GraftBridge.ofRows(spark, SubqueryAlias(table, stored)).select(g)
          org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
              probe.queryExecution.analyzed) match {
            case Project(Seq(Alias(cond, _)), _) if FoldLocalRows.evaluable(cond) =>
              val test = FoldLocalRows.rowTest(cond, stored.output)
              Some(Engine.StoredMatch(stored, rows.indices.filter(i => test(rows(i)))))
            case _ => None
          }
      }
    }

  /** The matched rows as a frame with fresh attributes and a `__rid__`
    * column holding each row's position in the stored Vector, the row
    * id the UPDATE hooks align pre- and post-update images on. */
  private[graft] def matchedFrame(table: String, m: Engine.StoredMatch): DataFrame = {
    val attrs = m.output :+ AttributeReference("__rid__", LongType, nullable = false)()
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      attrs.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    storedFrame(table, StoredRelation(attrs, Generation(m.matched.iterator.map(i =>
      toUnsafe(new JoinedRow(m.rows(i), InternalRow(i.toLong))).copy()).toVector)))
  }

  /** The generation an UPDATE leaves: each matched row replaced in place
    * by its image from `image` (a frame with `__rid__` and the table's
    * columns, cast to the stored types), nullability widened to the
    * images'. A keyed table is re-sorted when a key value changed. */
  private[graft] def updatedGeneration(table: String, m: Engine.StoredMatch,
      image: DataFrame): StoredRelation = {
    import org.apache.spark.sql.functions.col
    val sel = image.select((col("__rid__") +:
      m.output.map(a => col(s"`${a.name}`").cast(a.dataType))): _*)
    val images = localRows(sel)
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      m.output.zipWithIndex.map { case (a, i) => BoundReference(i + 1, a.dataType, nullable = true) })
    val pos = images.map(_.getLong(0).toInt)
    val rows = images.iterator.zip(pos).foldLeft(m.rows) { case (v, (r, i)) =>
      v.updated(i, toUnsafe(r).copy())
    }
    val output = m.output.zip(sel.schema.fields.tail).map { case (a, f) =>
      a.withNullability(a.nullable || f.nullable)
    }
    val keyMoved = pkOrdering(table, m.output)
      .filter(ord => pos.exists(i => ord.compare(m.rows(i), rows(i)) != 0))
    StoredRelation(output, Generation(keyMoved.fold(rows)(rows.sorted(_))))
  }

  /** INSERT onto a driver-held generation: the batch, aligned to the
    * table's columns the way unionByName aligns it, is appended to the
    * stored rows, and a keyed table re-sorts by its key. Returns the
    * number of rows written, or None (nothing written) when the table is
    * not driver-held, the aligned batch does not fold to local rows, or
    * alignment would change a column's type. */
  private def appendStored(table: String, batch: DataFrame,
                           fillMissing: Boolean): Option[Long] =
    storedGeneration(table).flatMap { stored =>
      val output = stored.output
      val aligned = GraftBridge.ofRows(spark, LocalRelation(output.map(_.newInstance())))
        .unionByName(batch, allowMissingColumns = fillMissing)
      aligned.queryExecution.optimizedPlan match {
        case l: LocalRelation if l.output.map(_.dataType) == output.map(_.dataType) =>
          val toUnsafe = InterpretedUnsafeProjection.createProjection(
            l.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
          val added = l.data.map(r => toUnsafe(r).copy())
          val all = stored.gen.rows ++ added
          storeGeneration(table, StoredRelation(
            output.zip(l.output).map { case (a, b) => a.withNullability(a.nullable || b.nullable) },
            Generation(pkOrdering(table, output).fold(all)(all.sorted(_)))))
          Some(added.size.toLong)
        case _ => None
      }
    }

  /** The rows of a frame that folds on the driver; anything else runs
    * its plan. Either way without a Dataset action, whose SQL-execution
    * bookkeeping costs more than a small local plan. */
  private[graft] def localRows(df: DataFrame): Seq[InternalRow] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data
      case _ => df.queryExecution.executedPlan.executeCollect().toSeq
    }

  /** The primary-key order a stored generation of `table` is kept in
    * (replaceTableInner sorts a keyed table by its key, as the
    * reference's tables are clustered by it); None without a key. */
  private def pkOrdering(table: String, output: Seq[Attribute]): Option[Ordering[InternalRow]] =
    tableDef(canonicalTable(table)).key.filter(_.nonEmpty).flatMap { pk =>
      val keys = pk.flatMap(k => output.find(_.name.equalsIgnoreCase(k)))
      if (keys.size != pk.size) None
      else Some(new InterpretedOrdering(keys.map(SortOrder(_, Ascending)), output))
    }

  // ---- declared keys (REPLACE INTO / ON DUPLICATE KEY UPDATE) -----------
  // Parquet views carry no PK metadata, so upsert targets declare their
  // key in the table's entry (reference: the integrator's sql.PrimaryKeyTable;
  // plan/insert.go routes REPLACE as delete+insert and ON DUPLICATE KEY
  // UPDATE as a per-row merge).

  /** Declare the primary-key columns used by REPLACE INTO and
    * INSERT ... ON DUPLICATE KEY UPDATE against `table`. */
  def declareKey(table: String, cols: Seq[String]): Unit =
    alterDef(table)(_.copy(key = Some(cols)))

  // ---- declared column defaults ----------------------------------------
  // (reference sql/plan/insert.go applies column defaults to unmentioned
  // insert columns; sql/expression/wrapped_column_default.go). Stored as
  // SQL text, evaluated per insert batch.

  /** Declare `table.column DEFAULT <sqlText>` for column-list inserts. */
  def declareDefault(table: String, column: String, sqlText: String): Unit =
    alterCol(table, column)(_.copy(default = Some(sqlText)))

  /** Declare `table.column` AUTO_INCREMENT: a column-list insert that
    * omits it takes max(existing)+1.. per batch row (reference
    * sql/plan/insert.go auto-increment editor; a distributed engine
    * assigns the batch monotonically in one pass, not per row). The
    * counter is monotonic (reference sql/plan/insert.go
    * autoIncrementEditor + memory/table.go): it survives deletes
    * (insert_queries.go "auto increment table handles deletes" — delete
    * max, insert NULL => old max + 1) and is settable via ALTER TABLE
    * ... AUTO_INCREMENT = n. */
  def declareAutoInc(table: String, column: String): Unit =
    alterDef(table)(_.copy(autoInc = Some(column)))

  /** LAST_INSERT_ID() / ROW_COUNT() session state (reference
    * sql/session.go lastQueryInfo): first auto-generated id of the most
    * recent generating INSERT; rows affected by the last DML. */
  private[graft] var lastInsertIdVal: Long = 0L
  private[graft] var rowCountVal: Long = -1L
  /** LAST_INSERT_UUID() — the first UUID generated into a PRIMARY KEY
    * column by the most recent generating INSERT (reference uuid.go;
    * initial value is the empty string). */
  private[graft] var lastInsertUuidVal: String = ""

  /** FOUND_ROWS() session state (reference sql/session.go lastQueryInfo
    * FoundRows; initialized to 1 like session.go:273). A SELECT captures
    * its analyzed frame; the count materializes only when found_rows()
    * is called (the captured plan resolved its temp views already, so a
    * later DML re-registration cannot change the answer). */
  private[graft] var foundRowsCnt: Long = 1L
  private[graft] var foundRowsDf: Option[DataFrame] = None
  private[graft] def foundRowsSet(n: Long): Unit = {
    foundRowsCnt = n; foundRowsDf = None
  }
  private[graft] def foundRowsNow(): Long = {
    foundRowsDf.foreach { df =>
      foundRowsCnt = try df.count() catch { case _: Exception => 0L }
      foundRowsDf = None
    }
    foundRowsCnt
  }

  /** Current next-value, initializing from the table's max on first use
    * (how the reference seeds the editor from storage). */
  private[graft] def autoIncNext(table: String): Long =
    tableDef(table).autoIncCounter.getOrElse {
      val c = tableDef(table).autoInc.get
      val n = try {
        val r = spark.table(table)
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col(s"`$c`").cast("long")))
          .collect()(0)
        if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
      } catch { case _: Exception => 1L }
      alterDef(table)(_.copy(autoIncCounter = Some(n)))
      n
    }

  /** 16 stored UUID bytes back to the canonical string; `swap` undoes
    * UUID_TO_BIN(…, 1)'s time-part swap (reference uuidfuncs.go). */
  private def bytesToUuid(b: Array[Byte], swap: Boolean): String = {
    val hex = b.map(x => f"$x%02x").mkString
    val h =
      if (swap) hex.substring(8, 16) + hex.substring(4, 8) +
        hex.substring(0, 4) + hex.substring(16)
      else hex
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20)}"
  }

  /** Advance the counter past an observed inserted value. */
  private[graft] def autoIncObserve(table: String, maxSeen: Long): Unit =
    if (tableDef(table).autoInc.isDefined) {
      val cur = tableDef(table).autoIncCounter.getOrElse(1L)
      // saturating: inserting Long.MaxValue must not wrap the counter
      // (the render caps at the type max anyway)
      val next = if (maxSeen == Long.MaxValue) Long.MaxValue else maxSeen + 1
      if (next > cur) alterDef(table)(_.copy(autoIncCounter = Some(next)))
    }

  // ---- generated columns + CHECK constraints ----------------------------
  // (reference: generated columns in sql/plan/ddl.go + enginetest
  // generated_columns.go; CHECK enforcement in sql/plan/check_constraint.go)

  /** Declare `table.column` as GENERATED ALWAYS AS (exprText) [STORED]:
    * writes recompute it; explicit non-NULL inserts into it are MySQL
    * error 3105. SHOW CREATE appends STORED only for stored ones. */
  def declareGenerated(table: String, column: String, exprText: String,
                       stored: Boolean = true): Unit =
    alterCol(table, column)(_.copy(generated = Some(exprText), stored = stored))

  // MySQL rejects non-deterministic / session-dependent functions inside
  // CHECK expressions (check_scripts.go DisallowedCheckConstraintsScripts;
  // MySQL error 3814) and any subquery (error 3815)
  private val checkDisallowedFns = Set(
    "user", "current_user", "session_user", "system_user", "now",
    "current_timestamp", "curdate", "current_date", "curtime",
    "current_time", "localtime", "localtimestamp", "unix_timestamp",
    "utc_date", "utc_time", "utc_timestamp", "sysdate", "uuid",
    "uuid_short", "rand", "random_bytes", "database", "schema", "version",
    "connection_id", "last_insert_id", "row_count", "found_rows",
    "get_lock", "release_lock", "release_all_locks", "is_free_lock",
    "is_used_lock", "sleep",
    "benchmark", "load_file", "master_pos_wait", "name_const")

  /** Declare CHECK (exprText) on table: any write whose rows evaluate the
    * predicate to FALSE (NULL passes, MySQL semantics) is error 3819.
    * NOT ENFORCED constraints stay in the catalog (SHOW CREATE /
    * information_schema render them with ENFORCED='NO') but admit
    * violating writes. */
  def declareCheck(table: String, name: String, exprText: String,
                   enforced: Boolean = true): Unit = {
    if ("(?is)\\(\\s*SELECT\\b".r.findFirstIn(exprText).isDefined)
      throw new IllegalArgumentException(
        s"An expression of a check constraint '$name' contains disallowed " +
        "function: subqueries are not allowed (MySQL error 3815)")
    "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s*\\(".r.findAllMatchIn(exprText)
      .map(_.group(1).toLowerCase).find(checkDisallowedFns).foreach { fn =>
        throw new IllegalArgumentException(
          s"An expression of a check constraint '$name' contains " +
          s"disallowed function: $fn (MySQL error 3814)")
      }
    // keyword-style niladic forms reject without parentheses too
    ("(?i)\\b(current_user|session_user|system_user|current_date|" +
      "current_time|current_timestamp|localtime|localtimestamp|utc_date|" +
      "utc_time|utc_timestamp)\\b").r.findFirstMatchIn(exprText).foreach { m =>
        throw new IllegalArgumentException(
          s"An expression of a check constraint '$name' contains " +
          s"disallowed function: ${m.group(1).toLowerCase} (MySQL error 3814)")
      }
    alterDef(table)(d => d.copy(checks = d.checks :+ ((name, exprText, enforced))))
  }

  /** Recompute the table's generated columns over a write batch (insert
    * coercion output or a post-UPDATE view), in declaration order. */
  private[graft] def computeGenerated(table: String, df: DataFrame): DataFrame = {
    lazy val fields = scala.util.Try(spark.table(table)).toOption
      .map(_.schema.fields.toSeq).getOrElse(Seq.empty)
    tableDef(table).generated.foldLeft(df) { case (d, (c, ex)) =>
      val computed = org.apache.spark.sql.functions.expr(ex)
      val f = fields.find(_.name.equalsIgnoreCase(c))
      d.withColumn(f.fold(c)(_.name), f.fold(computed)(x => computed.cast(x.dataType)))
    }
  }

  /** MySQL error 3105: a generated column in the incoming batch carrying
    * an explicit (non-NULL) value. */
  private[graft] def rejectExplicitGenerated(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    tableDef(table).generated.foreach {
      case (c, _) if present.contains(c) =>
        val n = df.filter(col(present(c)).isNotNull).limit(1).count()
        if (n > 0) throw new IllegalArgumentException(
          s"The value specified for generated column '${present(c)}' in table " +
          s"'$table' is not allowed. (MySQL error 3105)")
      case _ =>
    }
  }

  /** MySQL error 3819 on any row where a CHECK evaluates to FALSE. */
  private[graft] def validateChecks(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    val relevant = tableDef(table).checks.collect { case (name, ex, true) => (name, ex) }
    if (relevant.isEmpty) return
    // the batch may omit columns that only fill to NULL at the final
    // unionByName — a CHECK over such a column sees NULL (passes, 3VL),
    // so type them in before resolution (check_scripts.go
    // "INSERT INTO t1 (a,b)" with chk4 over c)
    val present = df.columns.map(_.toLowerCase).toSet
    val probe = scala.util.Try(spark.table(table)).toOption match {
      case Some(t0) => t0.schema.fields.filterNot(f =>
          present(f.name.toLowerCase))
        .foldLeft(df)((d, f) => d.withColumn(f.name,
          lit(null).cast(f.dataType)))
      case None => df
    }
    relevant.foreach { case (name, ex) =>
      val bad = probe.filter(expr(ex).cast("boolean") === lit(false))
        .limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"Check constraint '$name' is violated. (MySQL error 3819)")
    }
  }

  // ---- foreign keys (reference sql/plan/foreign_key_handler.go +
  // enginetest foreign_key_queries.go; write-side enforcement like the
  // CHECK/vocab paths — batch joins, no per-row probes) ------------------

  /** Is FOREIGN_KEY_CHECKS on for this session? Off defers ALL FK DDL
    * resolution and write-side enforcement (foreign_key_queries.go
    * "Delayed foreign key resolution" blocks). */
  private[graft] def fkChecksEnabled: Boolean =
    sysVarOverrides.getOrElse("foreign_key_checks", "1").trim != "0"

  /** Declare an FK after MySQL's full DDL validation taxonomy
    * (reference sql/plan/alter_foreign_key.go ResolveForeignKey +
    * foreign_key_queries.go error blocks). `childSchema` carries the
    * mid-CREATE column types when the child table doesn't exist yet;
    * None resolves it from the catalog. */
  def declareForeignKey(fk: ForeignKey,
      childSchema: Option[Seq[org.apache.spark.sql.types.StructField]] = None)
      : Unit = {
    import org.apache.spark.sql.types._
    // validated regardless of FOREIGN_KEY_CHECKS: shape + name errors
    if (fk.childCols.size != fk.parentCols.size)
      throw new IllegalArgumentException(
        s"Foreign key '${fk.name}' column count mismatch: " +
        s"${fk.childCols.size} child vs ${fk.parentCols.size} parent " +
        "(MySQL ErrForeignKeyColumnCountMismatch)")
    if (fk.onDelete == "SET DEFAULT" || fk.onUpdate == "SET DEFAULT")
      throw new IllegalArgumentException(
        s"Foreign key '${fk.name}': SET DEFAULT is not supported " +
        "(MySQL ErrForeignKeySetDefault)")
    // FK names are unique across the whole schema, not per table
    // (InnoDB; "foreign key naming": child7_ibfk_1 on child1 blocks
    // child7's auto-name)
    if (foreignKeys.exists(_.name.equalsIgnoreCase(fk.name)))
      throw new IllegalArgumentException(
        s"Duplicate foreign key constraint name '${fk.name}' " +
        "(MySQL ErrForeignKeyDuplicateName)")
    // a column may appear once per FK (ErrAddForeignKeyDuplicateColumn)
    fk.childCols.map(_.toLowerCase).groupBy(identity).collectFirst {
      case (c, cs) if cs.size > 1 => c
    }.foreach(c => throw new IllegalArgumentException(
      s"Column '$c' appears twice in foreign key '${fk.name}' " +
      "(MySQL ErrAddForeignKeyDuplicateColumn)"))
    // child-side column existence validates even with
    // FOREIGN_KEY_CHECKS=0 — only the PARENT side defers
    // ("Delayed foreign key still does some validation")
    val childFields = childSchema.getOrElse(
      spark.table(fk.child).schema.fields.toSeq)
    def childField(c: String): StructField =
      childFields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"Table '${fk.child}' does not have column '$c' " +
          "(MySQL ErrTableColumnNotFound)"))
    fk.childCols.foreach(childField)
    if (fkChecksEnabled) {
      // parent resolution throws TABLE_OR_VIEW_NOT_FOUND when absent;
      // a self-referential FK in mid-CREATE resolves against the same
      // in-flight column list
      val parentFields =
        if (fk.parent.equalsIgnoreCase(fk.child)) childFields
        else spark.table(fk.parent).schema.fields.toSeq
      def parentField(c: String): StructField =
        parentFields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"Table '${fk.parent}' does not have column '$c' " +
            "(MySQL ErrTableColumnNotFound)"))
      fk.childCols.zip(fk.parentCols).foreach { case (cc, pc) =>
        val cf = childField(cc); val pf = parentField(pc)
        // TEXT/BLOB columns cannot carry FKs (InnoDB; ErrForeignKeyTextBlob)
        if (colDef(fk.child, cc).blobText || colDef(fk.parent, pc).blobText)
          throw new IllegalArgumentException(
            s"Foreign key '${fk.name}': TEXT/BLOB columns are not " +
            "supported (MySQL ErrForeignKeyTextBlob)")
        // types must match; string/binary families compare length-blind
        // ("Type Mismatch special case for strings"), integer widths mix
        // freely ("mixed int type foreign key tests")
        // wide DECIMAL (p > 38) stores as text but is decimal-kind for
        // FK compatibility (decimals-with-FK: child decimal(65,30)
        // references parent decimal(4,2))
        def decKind(t: String, c: String,
                    dt: org.apache.spark.sql.types.DataType) =
          dt.isInstanceOf[DecimalType] ||
            colDef(t, c).wideDec.isDefined
        val cDec = decKind(fk.child, cc, cf.dataType)
        val pDec = decKind(fk.parent, pc, pf.dataType)
        val ok = (cf.dataType == pf.dataType && cDec == pDec) ||
          (cf.dataType.isInstanceOf[StringType] &&
            pf.dataType.isInstanceOf[StringType] && cDec == pDec) ||
          (cf.dataType == BinaryType && pf.dataType == BinaryType) ||
          // DECIMAL pairs may differ in precision/scale — the FK is
          // legal but representation-exact matching means a scale
          // mismatch never matches (script_queries.go decimals-with-FK)
          (cDec && pDec) ||
          // DATETIME/TIMESTAMP pairs mix freely at CREATE time; a kind
          // or fractional-precision difference simply never matches
          // (script_queries.go datetime/timestamps-with-FK, dolt #9544)
          (isTsKind(cf.dataType) && isTsKind(pf.dataType))
        if (!ok) throw new IllegalArgumentException(
          s"Foreign key '${fk.name}': column '$cc' type " +
          s"${cf.dataType.simpleString} does not match referenced column " +
          s"'$pc' ${pf.dataType.simpleString} " +
          "(MySQL ErrForeignKeyColumnTypeMismatch)")
        // SET NULL actions need nullable child columns
        if ((fk.onDelete == "SET NULL" || fk.onUpdate == "SET NULL") &&
            (!cf.nullable || colDef(fk.child, cc).notNull))
          throw new IllegalArgumentException(
            s"Foreign key '${fk.name}': SET NULL on non-nullable column " +
            s"'$cc' (MySQL ErrForeignKeySetNullNonNullable)")
        // CASCADE/SET NULL cannot rewrite the base column of a STORED
        // generated column (CreateForeignKeyTests "stored generated
        // column foreign keys"; InnoDB restriction)
        val actsOnChild = Seq(fk.onDelete, fk.onUpdate)
          .exists(a => a == "CASCADE" || a == "SET NULL")
        if (actsOnChild && tableDef(fk.child).generated.exists { case (gc, ex) =>
            colDef(fk.child, gc).stored && {
              val refs = try org.apache.spark.sql.catalyst.parser
                .CatalystSqlParser.parseExpression(ex).collect {
                  case a2: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                    a2.name.toLowerCase
                } catch { case _: Exception => Seq.empty[String] }
              refs.contains(cc.toLowerCase)
            }
          })
          throw new IllegalArgumentException(
            s"Foreign key '${fk.name}': cascading action on base column " +
            s"'$cc' of a stored generated column is not allowed " +
            "(MySQL ErrForeignKeyTypeChange)")
      }
      // the referenced columns must lead an index on the parent —
      // the PK, or a declared unique/secondary index (prefix-length
      // index parts disqualify; a secondary index implicitly extends
      // with the PK columns — "Referenced index includes implicit
      // primary key columns")
      val want = fk.parentCols.map(_.toLowerCase)
      val pkCols = tableDef(fk.parent).key.getOrElse(Seq.empty)
        .map(_.toLowerCase)
      val parentDef = tableDef(fk.parent)
      val declared = (parentDef.uniques ++ parentDef.indexes).map { case (n, cols) =>
        (n, cols.map(_.toLowerCase)) }
      val candidates = Seq(("PRIMARY", pkCols)) ++ declared ++
        declared.map { case (n, cols) =>
          (n, cols ++ pkCols.filterNot(cols.contains)) }
      val covered = candidates.exists { case (n, cols) =>
        cols.size >= want.size && cols.take(want.size) == want &&
          want.forall(c => !parentDef.indexPrefixes.contains((n, c)))
      }
      if (!covered) throw new IllegalArgumentException(
        s"Foreign key '${fk.name}': missing index over the referenced " +
        s"columns (${fk.parentCols.mkString(", ")}) on '${fk.parent}' " +
        "(MySQL ErrForeignKeyMissingReferenceIndex)")
    }
    // canonicalize column case to the tables' declared field names —
    // FK specs are case-insensitive but the catalog renders the declared
    // spelling ("Self-referential foreign key is not case sensitive")
    val fkCanon =
      if (!fkChecksEnabled) fk
      else {
        val cf = childSchema.getOrElse(
          spark.table(fk.child).schema.fields.toSeq)
        val pf = if (fk.parent.equalsIgnoreCase(fk.child)) cf
          else spark.table(fk.parent).schema.fields.toSeq
        fk.copy(
          childCols = fk.childCols.map(c =>
            cf.find(_.name.equalsIgnoreCase(c)).map(_.name).getOrElse(c)),
          parentCols = fk.parentCols.map(c =>
            pf.find(_.name.equalsIgnoreCase(c)).map(_.name).getOrElse(c)))
      }
    alterDef(fk.child)(d => d.copy(fks = d.fks :+ fkCanon))
    // MySQL auto-creates a child-side index named after the constraint
    // when none already leads with the FK columns (SHOW CREATE TABLE
    // renders `KEY fk_name (cols)`; "Naming automatically created FK
    // indexes")
    val wantChild = fkCanon.childCols.map(_.toLowerCase)
    val childPk = tableDef(fk.child).key.getOrElse(Seq.empty).map(_.toLowerCase)
    val childIdx = tableDef(fk.child).uniques ++ tableDef(fk.child).indexes
    val hasIdx =
      (childPk.size >= wantChild.size &&
        childPk.take(wantChild.size) == wantChild) ||
      childIdx.exists(_._2.map(_.toLowerCase).take(wantChild.size) == wantChild)
    if (!hasIdx) {
      // an explicitly-named FK that needs an auto index under a name an
      // existing index already uses is ErrDuplicateKey ("Naming
      // automatically created FK indexes")
      val isAutoNamed = fk.name.matches("(?i)^" +
        java.util.regex.Pattern.quote(fk.child) + "_ibfk_-?\\d+$")
      if (!isAutoNamed && childIdx.exists(_._1.equalsIgnoreCase(fk.name))) {
        alterDef(fk.child)(d => d.copy(fks = d.fks.filterNot(_ eq fkCanon)))
        throw new IllegalArgumentException(
          s"Duplicate key name '${fk.name}' (MySQL ErrDuplicateKey)")
      }
      // auto-named constraints (<t>_ibfk_N) index under the first FK
      // column's name, like MySQL; explicit constraint names carry over.
      // A taken name dedupes with _2/_3 ("Naming automatically created
      // FK indexes": index v2 exists -> the new one is v2_2)
      val base =
        if (fk.name.matches("(?i)^" +
            java.util.regex.Pattern.quote(fk.child) + "_ibfk_-?\\d+$"))
          fkCanon.childCols.head
        else fk.name
      def taken(n: String) = childIdx.exists(_._1.equalsIgnoreCase(n))
      val idxName =
        if (!taken(base)) base
        else Iterator.from(2).map(i => s"${base}_$i").find(!taken(_)).get
      declareIndex(fk.child, idxName, fkCanon.childCols)
    }
  }

  /** Is `idxName` the ONLY index satisfying some FK on `table` (either
    * side)? Such an index cannot drop (MySQL ErrForeignKeyDropIndex;
    * foreign_key_queries.go "Indexes used by foreign keys can't be
    * dropped"). */
  private[graft] def indexNeededByFk(table: String, idxName: String): Boolean = {
    val all = (tableDef(table).uniques ++ tableDef(table).indexes)
      .distinctBy(_._1.toLowerCase)
    val target = all.find(_._1.equalsIgnoreCase(idxName))
      .map(_._2.map(_.toLowerCase)).getOrElse(return false)
    val others = all.filterNot(_._1.equalsIgnoreCase(idxName))
      .map(_._2.map(_.toLowerCase))
    val pk = tableDef(table).key.getOrElse(Seq.empty).map(_.toLowerCase)
    def covers(cols: Seq[String], want: Seq[String]) =
      cols.size >= want.size && cols.take(want.size) == want
    foreignKeys.exists { f =>
      val wants =
        (if (f.child == table) Seq(f.childCols.map(_.toLowerCase)) else Nil) ++
        (if (f.parent == table) Seq(f.parentCols.map(_.toLowerCase)) else Nil)
      wants.exists { want =>
        covers(target, want) && !covers(pk, want) &&
          !others.exists(covers(_, want))
      }
    }
  }

  def dropForeignKey(child: String, name: String): Unit = {
    if (!foreignKeys.exists(f =>
        f.child == child && f.name.equalsIgnoreCase(name)))
      throw new IllegalArgumentException(
        s"Foreign key '$name' does not exist on table '$child' " +
        "(MySQL ErrForeignKeyNotFound)")
    alterDef(child)(d => d.copy(fks = d.fks.filterNot(_.name.equalsIgnoreCase(name))))
  }

  /** FK matching expression for one side: enum-to-enum pairs compare
    * by 1-based vocab ordinal, set-to-set pairs by bitmask — never by
    * label (reference script_queries.go "enums/set with foreign keys":
    * child enum('x','y','z') value 1 matches parent enum('a','b','c')
    * value 1). `name` is the column's (possibly renamed) name in the
    * frame being joined. */
  private def fkKeyCol(name: String,
      vocab: Option[(Boolean, Seq[String])]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    vocab match {
      case Some((false, vs)) =>
        array_position(array(vs.map(lit): _*), col(s"`$name`"))
      case Some((true, vs)) =>
        val cases = vs.zipWithIndex.map { case (v, i) =>
          s"WHEN '${v.replace("'", "''")}' THEN ${1L << i}"
        }.mkString(" ")
        expr(s"aggregate(filter(split(`$name`, ','), m -> m != ''), " +
          s"CAST(0 AS BIGINT), (acc, m) -> acc + CASE m $cases ELSE 0 END)")
      case None => col(s"`$name`")
    }
  }

  /** The FK pair's vocabularies, when BOTH ends declare the same kind. */
  private def fkPairVocab(fk: ForeignKey, cc: String, pc: String)
      : (Option[(Boolean, Seq[String])], Option[(Boolean, Seq[String])]) = {
    val cv = colDef(fk.child, cc).vocab
    val pv = colDef(fk.parent, pc).vocab
    (cv, pv) match {
      case (Some((ck, _)), Some((pk, _))) if ck == pk => (cv, pv)
      case _ => (None, None)
    }
  }

  /** One FK column-pair equality: vocab pairs by ordinal/bitmask;
    * decimal pairs with DIFFERENT declared types compare representation-
    * exact (cast to string), so a scale mismatch never matches —
    * dolt's index-encoded matching (script_queries.go decimals-with-FK:
    * child decimal(4,1) 78.9 does NOT match parent decimal(4,2) 78.90).
    * `pcName` is the parent column's renamed name in the joined frame. */
  private[graft] def isTsKind(dt: org.apache.spark.sql.types.DataType)
      : Boolean =
    dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType

  private def fkPairEq(fk: ForeignKey, cc: String, pc: String,
      pcName: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val (cv, pv) = fkPairVocab(fk, cc, pc)
    if (cv.isDefined || pv.isDefined) fkKeyCol(cc, cv) === fkKeyCol(pcName, pv)
    else {
      def dt(t: String, c: String) = scala.util.Try(spark.table(t).schema
        .fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
        .toOption.flatten
      val cWide = colDef(fk.child, cc).wideDec
      val pWide = colDef(fk.parent, pc).wideDec
      (dt(fk.child, cc), dt(fk.parent, pc)) match {
        // wide DECIMAL against any decimal: representation-exact text
        // compare — a (65,30) child value "1.230000…0" never matches a
        // (4,2) parent "1.23" (decimals-with-FK child_dec_65_30 rows)
        case _ if (cWide.isDefined || pWide.isDefined) &&
            cWide != pWide =>
          col(s"`$cc`").cast("string") === col(s"`$pcName`").cast("string")
        case (Some(c: org.apache.spark.sql.types.DecimalType),
              Some(p: org.apache.spark.sql.types.DecimalType)) if c != p =>
          col(s"`$cc`").cast("string") === col(s"`$pcName`").cast("string")
        // temporal FK matching is representation-exact like decimals:
        // a DATETIME/TIMESTAMP kind or fractional-precision mismatch
        // never matches (dolt #9544 — child inserts always violate)
        case (Some(c), Some(p)) if isTsKind(c) && isTsKind(p) &&
            (c != p ||
              colDef(fk.child, cc).timePrecision.getOrElse(0) !=
                colDef(fk.parent, pc).timePrecision.getOrElse(0)) =>
          lit(false)
        case _ => col(s"`$cc`") === col(s"`$pcName`")
      }
    }
  }

  /** Child-side enforcement: every incoming row whose FK columns are all
    * non-NULL must match a parent row (MySQL error 1452). One anti-join
    * per declared FK over the batch. */
  /** Child-side FK validation of a write (MySQL error 1452): the rows of
    * `newDf` that fkChildViolations finds — every row of an insert batch,
    * or, for an UPDATE, the rows whose FK columns changed. */
  private[graft] def validateForeignKeysChild(table: String,
      oldDf: Option[DataFrame], newDf: DataFrame): Unit =
    fkChildViolations(table, oldDf, newDf).foreach { case (fk, bad) =>
      if (bad.limit(1).count() > 0) throw new IllegalArgumentException(
        s"Cannot add or update a child row: a foreign key constraint " +
        s"fails (`${fk.child}`, CONSTRAINT `${fk.name}`) (MySQL error 1452)")
    }

  /** Per declared FK of `table`, the rows of `newDf` that match no parent
    * row. For an UPDATE (`oldDf`, aligned on `__rid__`), only rows whose
    * columns of that FK changed: an unrelated column's update must not
    * resurface a pre-existing violation on another FK ("partial foreign
    * key update"), nor a row that violated while FOREIGN_KEY_CHECKS=0
    * ("Delayed foreign key resolution: update"). A SELF-referential FK
    * also sees `newDf` as parent rows (MySQL validates row by row, so a
    * batch can reference keys it writes itself). None while
    * FOREIGN_KEY_CHECKS=0. */
  private[graft] def fkChildViolations(table: String, oldDf: Option[DataFrame],
      newDf: DataFrame): Seq[(ForeignKey, DataFrame)] = {
    import org.apache.spark.sql.functions.col
    if (!fkChecksEnabled) return Seq.empty
    foreignKeys.toSeq.filter(_.child == table).map { fk =>
      val fkCols = fk.childCols.map(_.toLowerCase).distinct
      val changed = oldDf.fold(newDf) { o =>
        val oldKeyed = o.select(
          (col("__rid__").as("__rid2__") +:
            fkCols.map(c => col(s"`$c`").as(s"__old_$c"))): _*)
        newDf.join(oldKeyed, col("__rid__") === col("__rid2__"))
          .filter(fkCols.map(c =>
            !(col(s"`$c`") <=> col(s"`__old_$c`"))).reduce(_ || _))
          .select(newDf.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
      }
      val parentBase = spark.table(fk.parent)
        .select(fk.parentCols.map(c => col(s"`$c`")): _*)
      val parentAll =
        if (fk.parent == table)
          parentBase.unionByName(
            newDf.select(fk.parentCols.map(c => col(s"`$c`")): _*))
        else parentBase
      val parent = parentAll.distinct()
        .toDF(fk.parentCols.map(c => s"__fk_$c"): _*)
      val cond = fk.childCols.zip(fk.parentCols).map { case (cc, pc) =>
        fkPairEq(fk, cc, pc, s"__fk_$pc")
      }.reduce(_ && _)
      val nonNull = fk.childCols.map(c => col(s"`$c`").isNotNull)
        .reduce(_ && _)
      fk -> changed.filter(nonNull).join(parent, cond, "left_anti")
    }
  }

  /** Parent-side enforcement after a DELETE. FK actions are
    * ROW-TRIGGERED, the reference's semantics (foreign_key_handler;
    * pinned by foreign_key_queries.go "SQL CASCADE", where `one` still
    * holds a v1=9 row yet deleting the OTHER v1=9 row cascades anyway):
    * the DELETED rows' referenced-key values fire the declared action
    * on every matching child row — RESTRICT blocks (error 1451),
    * CASCADE deletes recursively, SET NULL nulls the FK columns.
    *
    * Returns the final surviving rows for `parent` itself: a
    * SELF-referential FK resolves against the survivors (a deleted row
    * is never an orphan), and its CASCADE may knock out further
    * surviving rows transitively, so the caller must replace the table
    * with the RETURNED frame, not its original `remaining`. Must be
    * called BEFORE the table view is replaced (the pre-delete contents
    * define the deleted set). */
  /** MySQL's cascade nesting cap (InnoDB: "Cascading operations may not
    * be nested more than 15 levels deep"). The reference replicates a
    * MySQL quirk (foreign_key_editor.go:227): CYCLIC foreign-key graphs
    * error at depth 15, acyclic ones at depth 16 — pinned by the
    * "delete/update cascade depth limit" corpus blocks. */
  private val FkCascadeDepthLimit = 15

  /** Is any FK cycle reachable from `root` along parent→child edges? */
  private[graft] def fkGraphCyclic(root: String): Boolean = {
    val edges = foreignKeys.toSeq.map(f => f.parent -> f.child)
    def childrenOf(t: String) = edges.collect { case (p, c) if p == t => c }
    var seen = Set.empty[String]
    def dfs(t: String, path: Set[String]): Boolean = {
      if (path(t)) return true
      if (seen(t)) return false
      seen += t
      childrenOf(t).exists(dfs(_, path + t))
    }
    dfs(root, Set.empty)
  }

  private def fkDepthExceeded(depth: Int, cyclic: Boolean): Boolean =
    (cyclic && depth >= FkCascadeDepthLimit) || depth > FkCascadeDepthLimit

  private[graft] def enforceParentDelete(parent: String,
                                         remaining: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!fkChecksEnabled) return remaining
    if (!foreignKeys.exists(_.parent == parent)) return remaining
    def err1451(fk: ForeignKey): Nothing = throw new IllegalArgumentException(
      s"Cannot delete or update a parent row: a foreign key " +
      s"constraint fails (`${fk.child}`, CONSTRAINT `${fk.name}`) " +
      s"(MySQL error 1451)")
    // Worklist of delete waves: wave N's deleted rows fire the FK
    // actions that produce wave N+1. Cyclic and self-referential
    // cascades terminate either by running out of matching rows or at
    // MySQL's depth cap. Each wave is a handful of distributed
    // semi/anti joins — no per-row driver work — and every mutated
    // table's state is localCheckpoint'd so lineage stays O(1) deep
    // across waves instead of O(waves).
    val state = scala.collection.mutable.Map[String, DataFrame](
      parent -> remaining)
    def stateOf(t: String): DataFrame =
      state.getOrElseUpdate(t, spark.table(t))
    // wave 1 = the statement's own deletions
    var wave: Map[String, DataFrame] =
      Map(parent -> spark.table(parent).exceptAll(remaining))
    var depth = 1
    val cyclic = fkGraphCyclic(parent)
    while (wave.nonEmpty) {
      if (fkDepthExceeded(depth, cyclic))
        throw new IllegalArgumentException(
          s"Foreign key cascade deletes exceed max depth of " +
          s"$FkCascadeDepthLimit (MySQL ErrForeignKeyDepthLimit)")
      val next = scala.collection.mutable.Map.empty[String, DataFrame]
      for ((tbl, deleted) <- wave;
           fk <- foreignKeys.toSeq.filter(_.parent == tbl)) {
        val trigger = deleted
          .select(fk.parentCols.map(c => col(s"`$c`")): _*).distinct()
          .toDF(fk.parentCols.map(c => s"__fk_$c"): _*)
        val cond = fk.childCols.zip(fk.parentCols).map { case (cc, pc) =>
          fkPairEq(fk, cc, pc, s"__fk_$pc")
        }.reduce(_ && _)
        val nonNull = fk.childCols.map(c => col(s"`$c`").isNotNull)
          .reduce(_ && _)
        // actions fire on the child's CURRENT surviving rows — rows
        // deleted in an earlier wave are never orphans (pinned by
        // "SQL CASCADE" / "Self-referential child column follows parent")
        val child = stateOf(fk.child)
        val nn = child.filter(nonNull)
        val hit = nn.join(trigger, cond, "left_semi")
        fk.onDelete.toUpperCase match {
          case "CASCADE" =>
            if (hit.limit(1).count() > 0) {
              val kept = child.filter(!nonNull)
                .unionByName(nn.join(trigger, cond, "left_anti"))
                .localCheckpoint()
              val hitCk = hit.localCheckpoint()
              state(fk.child) = kept
              next(fk.child) = next.get(fk.child)
                .map(_.unionByName(hitCk)).getOrElse(hitCk)
            }
          case "SET NULL" =>
            if (hit.limit(1).count() > 0) {
              // the nulling is an UPDATE of fk.child, so FKs referencing
              // fk.child fire their ON UPDATE actions on it ("Cascaded
              // DELETE becomes cascading UPDATE after first child")
              val child0 = child.withColumn("__rid__",
                org.apache.spark.sql.functions
                  .monotonically_increasing_id()).localCheckpoint()
              val nn0 = child0.filter(nonNull)
              val hit0 = nn0.join(trigger, cond, "left_semi")
              val nulledOrphans = fk.childCols.foldLeft(hit0) { (d, c) =>
                d.withColumn(c, org.apache.spark.sql.functions.lit(null)
                  .cast(child.schema(c).dataType))
              }
              val newState0 = computeGenerated(fk.child,
                child0.filter(!nonNull)
                  .unionByName(nn0.join(trigger, cond, "left_anti"))
                  .unionByName(nulledOrphans))
                .localCheckpoint()
              enforceParentUpdate(fk.child, child0, newState0)
              state(fk.child) = newState0.drop("__rid__")
            }
          case _ => // RESTRICT / NO ACTION
            if (hit.limit(1).count() > 0) err1451(fk)
        }
      }
      wave = next.toMap
      depth += 1
    }
    // write back every mutated child; the caller replaces `parent` with
    // the returned frame. Deferred to success so a RESTRICT veto (or the
    // depth cap) leaves no partial cascade behind.
    for ((t, df) <- state if t != parent)
      replaceTable(t, df, bumpDepth = true)
    state(parent)
  }

  /** Parent-side enforcement after an UPDATE (reference
    * sql/rowexec/dml_iters.go:839 cascade machinery +
    * foreign_key_queries.go ON UPDATE cases). `oldParent` / `newParent`
    * carry an aligned `__rid__` column (same row = same id), which gives
    * ON UPDATE CASCADE its old-to-new key mapping: the rows whose
    * referenced key actually changed become a (old keys, new keys)
    * mapping table joined against the child.
    *
    *  - RESTRICT / NO ACTION: a child row still referencing a vanished
    *    key is error 1451.
    *  - SET NULL: such child rows get their FK columns nulled.
    *  - CASCADE: such child rows get their FK columns rewritten to the
    *    new key, recursively (the rewritten child columns may themselves
    *    be keys grandchildren reference).
    *  - A SELF-referential FK acts like RESTRICT (InnoDB stops an
    *    ON UPDATE cascade that loops back onto the updated table). Its
    *    children are the whole post-update table: `newTable` when the
    *    two frames hold only the updated rows, else `newParent`.
    */
  private[graft] def enforceParentUpdate(parent: String,
                                         oldParent: DataFrame,
                                         newParent: DataFrame,
                                         depth: Int = 1,
                                         newTable: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.functions._
    if (!fkChecksEnabled) return
    // cyclic ON UPDATE cascades terminate either on an empty changed set
    // or at MySQL's nesting cap ("Acyclic update cascade depth limit");
    // like the reference, the cap only fires when a child row actually
    // exists at the next level (foreign_key_editor.go checks inside the
    // row loop)
    lazy val cyclicGraph = fkGraphCyclic(parent)
    foreignKeys.toSeq.filter(_.parent == parent).foreach { fk =>
      val child = spark.table(fk.child)
      val nonNull = fk.childCols.map(c => col(s"`$c`").isNotNull)
        .reduce(_ && _)
      // (old, new) key pairs for the rows whose referenced key actually
      // changed (null-safe compare). Like the delete path, actions are
      // ROW-triggered: only these keys fire. A no-op assignment
      // (`SET v1 = v1`) therefore passes every action trivially.
      val oldKeys = oldParent.select(
        (col("__rid__") +: fk.parentCols.map(c =>
          col(s"`$c`").as(s"__old_$c"))): _*)
      val newKeys = newParent.select(
        (col("__rid__").as("__rid2__") +: fk.parentCols.map(c =>
          col(s"`$c`").as(s"__new_$c"))): _*)
      val changed = oldKeys
        .join(newKeys, col("__rid__") === col("__rid2__"))
        .filter(fk.parentCols.map(c =>
          !(col(s"__old_$c") <=> col(s"__new_$c"))).reduce(_ || _))
        .drop("__rid__", "__rid2__")
        .dropDuplicates(fk.parentCols.map(c => s"__old_$c"))
        .withColumn("__hit__", lit(true))
      val cond = fk.childCols.zip(fk.parentCols).map { case (cc, pc) =>
        fkPairEq(fk, cc, pc, s"__old_$pc")
      }.reduce(_ && _)
      val action = fk.onUpdate.toUpperCase
      if (changed.limit(1).count() > 0) {
        if (fk.child == parent || action == "RESTRICT" ||
            action == "NO ACTION") {
          // a self-FK acts like RESTRICT even when declared CASCADE/SET
          // NULL (InnoDB stops an ON UPDATE cascade that loops back onto
          // the updated table; reference foreign_key_queries.go
          // "Self-referential child column follows parent CASCADE").
          // The children checked are the table's own POST-update rows.
          val checkee =
            if (fk.child == parent) newTable.getOrElse(newParent.drop("__rid__"))
            else child
          val bad = checkee.filter(nonNull)
            .join(changed, cond, "left_semi").limit(1).count()
          if (bad > 0) throw new IllegalArgumentException(
            s"Cannot delete or update a parent row: a foreign key " +
            s"constraint fails (`${fk.child}`, CONSTRAINT `${fk.name}`) " +
            s"(MySQL error 1451)")
        } else {
          val hasHit = child.filter(nonNull)
            .join(changed, cond, "left_semi").limit(1).count() > 0
          if (hasHit && fkDepthExceeded(depth + 1, cyclicGraph))
            throw new IllegalArgumentException(
              s"Foreign key cascade updates exceed max depth of " +
              s"$FkCascadeDepthLimit (MySQL ErrForeignKeyDepthLimit)")
          action match {
          case "SET NULL" =>
            val joined = child.join(changed, cond, "left")
            val nulled = fk.childCols.foldLeft(joined) { (d, c) =>
              d.withColumn(c, when(coalesce(col("__hit__"), lit(false)),
                lit(null).cast(child.schema(c).dataType))
                .otherwise(col(s"`$c`")))
            }.select(child.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
            // generated columns over the nulled FK columns recompute
            replaceTable(fk.child, computeGenerated(fk.child, nulled),
              bumpDepth = true)
          case _ => // CASCADE
            val child0 =
              child.withColumn("__rid__", monotonically_increasing_id())
            val joined = child0.join(changed, cond, "left")
            val rewritten = fk.childCols.zip(fk.parentCols)
              .foldLeft(joined) { case (d, (cc, pc)) =>
                // enum/set pairs CASCADE by ordinal/bitmask, not text:
                // parent enum('a','b','c') 'a'→'c' rewrites child
                // enum('x','y','z') 'x' to 'z' (reference enum.go
                // ordinal compare + dml_iters.go FK actions;
                // script_queries.go enums/set-with-FK-and-cascade)
                val (cv, pv) = fkPairVocab(fk, cc, pc)
                val newVal = (cv, pv) match {
                  case (Some((false, cms)), Some(_)) =>
                    val ord = fkKeyCol(s"__new_$pc", pv)
                    cms.zipWithIndex.foldLeft(
                      lit(null).cast(child.schema(cc).dataType)) {
                      case (acc, (m, i)) =>
                        when(ord === (i + 1), lit(m)).otherwise(acc)
                    }
                  case (Some((true, cms)), Some(_)) =>
                    val mask = fkKeyCol(s"__new_$pc", pv).cast("long")
                    val parts = cms.zipWithIndex.map { case (m, i) =>
                      when(mask.bitwiseAND(lit(1L << i)) =!= 0, lit(m)) }
                    when(mask.isNull, lit(null))
                      .otherwise(concat_ws(",", parts: _*))
                      .cast(child.schema(cc).dataType)
                  case _ =>
                    col(s"__new_$pc").cast(child.schema(cc).dataType)
                }
                d.withColumn(cc, when(coalesce(col("__hit__"), lit(false)),
                  newVal).otherwise(col(s"`$cc`")))
              }.select((child.columns.map(c => col(s"`$c`")) :+
                col("__rid__")).toIndexedSeq: _*)
            // cascaded key rewrites feed any generated column over them
            // ("ON UPDATE CASCADE maintains an index over a virtual
            // column" / "recomputes chained virtual columns")
            val recomputed = computeGenerated(fk.child, rewritten)
            enforceParentUpdate(fk.child, child0, recomputed, depth + 1)
            replaceTable(fk.child, recomputed.drop("__rid__"),
              bumpDepth = true)
          }
        }
      }
    }
  }

  // ---- ENUM / SET write validation --------------------------------------
  // The reference rejects out-of-vocabulary values at write time
  // (sql/types/enum.go:52 Convert -> ErrConvertingToEnum, set.go:45).
  // Parquet has no ENUM physical type, so the vocabulary is declared in
  // the column's ColumnDef and enforced on the write paths — a
  // distributed filter + LIMIT 1 early-out per declared column, over the
  // incoming batch only.

  /** RENAME/CHANGE COLUMN: the column's definition, key and index
    * memberships follow the new name (ordinal_ddl_queries.go: a renamed
    * PK column still shows in SHOW KEYS under its new name), and so do
    * the expression-carried references: CHECK expressions,
    * generated-column expressions, and FK column lists in BOTH the child
    * and parent role (MySQL carries all of these through RENAME/CHANGE
    * COLUMN). */
  private[graft] def renameColumnDef(table: String, from: String,
                                     to: String): Unit = {
    def ren(c: String): String = if (c.equalsIgnoreCase(from)) to else c
    alterDef(table) { d =>
      val r = d.renameCol(from, to)
      r.copy(
        checks = r.checks.map { case (n, ex, en) => (n, renameIdent(ex, from, to), en) },
        columns = r.columns.map { case (c, cd) =>
          c -> cd.copy(generated = cd.generated.map(renameIdent(_, from, to))) })
    }
    tables.mapValuesInPlace { (t, d) =>
      d.copy(fks = d.fks.map { fk =>
        var f = fk
        if (f.child == table) f = f.copy(childCols = f.childCols.map(ren))
        if (f.parent == table) f = f.copy(parentCols = f.parentCols.map(ren))
        f
      })
    }
  }

  /** Token-level identifier rename inside an expression text: bare or
    * backticked occurrences of `from` become `to`; string literals and
    * longer identifiers are untouched. */
  private def renameIdent(ex: String, from: String, to: String): String = {
    val toks = SqlRewrite.tokenize(ex)
    val sb = new StringBuilder
    var pos = 0
    toks.foreach { t =>
      sb.append(ex.substring(pos, t.start))
      val text = t.text
      val bare = t.kind == SqlRewrite.Word && text.equalsIgnoreCase(from)
      val ticked = text.length > 2 && text.startsWith("`") &&
        text.endsWith("`") &&
        text.substring(1, text.length - 1).equalsIgnoreCase(from)
      sb.append(
        if (bare) to
        else if (ticked) s"`$to`"
        else text)
      pos = t.end
    }
    sb.append(ex.substring(pos))
    sb.toString
  }

  /** Declared UNSIGNED integer columns take their MySQL bounds. Spark has
    * no unsigned types (the column stores in the next-wider signed
    * type), so strict-mode range enforcement needs the declared bound
    * (reference types/number.go; script_queries.go "unsigned int with
    * auto_increment" expects 1264 on tinyint-unsigned 999). */
  private[graft] def declareUnsigned(table: String, column: String,
                                     base: String): Unit = {
    val hi: BigDecimal = base match {
      case "tinyint" => BigDecimal(255)
      case "smallint" => BigDecimal(65535)
      case "mediumint" => BigDecimal(16777215)
      case "int" | "integer" => BigDecimal(4294967295L)
      case _ => BigDecimal("18446744073709551615") // bigint unsigned
    }
    alterCol(table, column)(_.copy(unsigned = Some((BigDecimal(0), hi))))
  }

  // ---- ON UPDATE CURRENT_TIMESTAMP --------------------------------------
  // ColumnDef.onUpdate holds the declared precision (update_queries.go
  // OnUpdateExprScripts; reference sql/planbuilder parses the on-update
  // expression, rowexec/update.go applies it to rows that CHANGE).

  /** Frozen statement clock (the reference harness runs OnUpdateExpr
    * scripts under sql.RunWithNowFunc). None = wall clock. */
  private[graft] var queryNow: Option[java.sql.Timestamp] = None

  /** CURRENT_TIMESTAMP(p) as a Column, honoring the frozen clock. */
  private[graft] def nowColumn(precision: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val base = queryNow.map(lit(_).cast("timestamp"))
      .getOrElse(current_timestamp())
    if (precision == 0) date_trunc("SECOND", base) else base
  }

  /** CHAR/VARCHAR declared lengths: parquet strings are unbounded, so
    * writes enforce them the reference's way (sql/types/strings.go:465
    * ErrLengthBeyondLimit): plain INSERT errors, IGNORE truncates to the
    * limit with a warning. */
  def declareCharLimit(table: String, column: String, n: Int): Unit = {
    // a single column can never exceed 65535 CHARACTERS regardless of
    // charset (reference sql/types/strings.go ErrLengthTooLarge;
    // row_limit_queries.go "create table t1 (c1 VARCHAR(65536))")
    if (n > 65535)
      throw new IllegalArgumentException(
        s"length is $n but max allowed is 65535 (MySQL error 1074)")
    alterCol(table, column)(_.copy(charLimit = Some(n)))
  }

  // ---- InnoDB row-size limit --------------------------------------------
  // MySQL caps the declared row at 65535 BYTES: fixed types store 8,
  // TEXT/BLOB/JSON store a 16-byte pointer, CHAR/VARCHAR(n) stores
  // n × bytes-per-char of the table charset (reference
  // memory/table.go:1316 validateMaxRowLength / maxRowStorageSize;
  // row_limit_queries.go). Parquet has no such physical limit, so the
  // check is declaration-time only — faithful to the reference, which
  // also validates the SPEC, not the stored bytes.

  /** Stored procedures: name → (IN params as (name, type), body text).
    * CALL substitutes literal arguments for the IN parameters and runs
    * the body statements through the front door sequentially (reference
    * sql/plan/procedures.go; the transaction statements inside are the
    * engine's autocommit no-ops). OUT/INOUT and control flow are
    * rejected loudly at CREATE. */
  private[graft] val procedures = scala.collection.mutable.LinkedHashMap
    .empty[String, (Seq[(String, String)], String)]

  /** Move `oldName`'s entry to `newName` — table rename semantics (ALTER
    * ... RENAME TO and RENAME TABLE; alter_table_queries.go rename
    * blocks) — and the view definition of that name, if any. Foreign
    * keys follow on BOTH roles: this table as child, and any other
    * table's FK referencing it as parent. Auto-generated constraint names
    * (<old>_ibfk_N) renumber onto the new table name
    * (foreign_key_queries.go "RENAME TABLE with autogenerated FK name"). */
  private[graft] def renameTableDef(oldName: String, newName: String): Unit = {
    tables(newName) = tables.remove(oldName).getOrElse(TableDef.Empty)
    val autoRe = ("(?i)^" + java.util.regex.Pattern.quote(oldName) +
      "_ibfk_(\\d+)$").r
    tables.mapValuesInPlace { (_, d) =>
      d.copy(fks = d.fks.map { fk =>
        var c = if (fk.child == oldName) fk.copy(child = newName) else fk
        if (c.parent == oldName) c = c.copy(parent = newName)
        c.name match {
          case autoRe(n) if c.child == newName =>
            c.copy(name = s"${newName}_ibfk_$n")
          case _ => c
        }
      })
    }
    viewDefs.remove(oldName).foreach(v => viewDefs(newName) = v)
    viewDeps.remove(oldName).foreach(d => viewDeps(newName) = d)
  }

  /** Default collation per charset, as the reference renders it
    * (create_table_queries.go "table charset options": latin1 →
    * latin1_swedish_ci, binary → binary; the server default is the
    * _0900_bin family). */
  private[graft] def defaultCollation(charset: String): String =
    charset.toLowerCase match {
      case "binary" => "binary"
      case "latin1" => "latin1_swedish_ci"
      case "ascii" => "ascii_general_ci"
      case "utf8" | "utf8mb3" => "utf8mb3_general_ci"
      case cs => s"${cs}_0900_bin"
    }

  private def bytesPerChar(charset: String): Int =
    charset.toLowerCase match {
      case "latin1" | "ascii" | "binary" => 1
      case "ucs2" | "utf16" => 2
      case "utf8" | "utf8mb3" => 3
      case _ => 4 // utf8mb4, the MySQL 8 default
    }

  private[graft] def validateRowLength(table: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    val bpc = bytesPerChar(tableDef(table).charset.getOrElse("utf8mb4"))
    // per-type byte model from the reference's InnoDB simulation
    // (memory/table.go maxRowStorageSize): numbers/datetimes 8,
    // non-blob strings MaxByteLength, blobs 16, DECIMAL counts its
    // MaximumScale = min(precision, 30), ENUM/SET 2. Remaining
    // approximations: JSON (ref 20)
    // and TIME (ref 16) columns map to StringType here and land on the
    // 16-byte TEXT pointer; YEAR (ref 8) likewise 16 — near-cap specs
    // using those types diverge by a few bytes per column.
    val rowLen = schema.fields.map { f =>
      val isEnumSet = colDef(table, f.name).vocab.isDefined
      f.dataType match {
        case _ if isEnumSet => 2L
        case _: StringType => // incl. collated strings (Spark 4)
          colDef(table, f.name).charLimit
            .map(_.toLong * bpc).getOrElse(16L) // TEXT = pointer
        case BinaryType => 16L
        case d: DecimalType => math.min(d.precision, 30).toLong
        case _ => 8L
      }
    }.sum
    if (rowLen > 65535L)
      throw new IllegalArgumentException(
        s"invalid table spec: expected size < 65535, found $rowLen " +
        s"(MySQL error 1118: Row size too large)")
  }

  /** The MySQL zero value a column falls back to under IGNORE when a
    * conversion fails or NULL lands in a NOT NULL column
    * (sql/rowexec/update.go:98 convertDataAndWarn -> Type.Zero()).
    * DATE/TIME types have no Spark-representable zero date, so they keep
    * NULL (documented divergence — analytics reads treat both as
    * missing). */
  private[graft] def zeroValueLit(dt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => Some(lit(0).cast(dt))
      case d: DecimalType => Some(lit(0).cast(d))
      case StringType => Some(lit(""))
      case BooleanType => Some(lit(false))
      case BinaryType => Some(lit(Array.emptyByteArray))
      case _ => None
    }
  }

  /** Settle the flags a write image carries: writeConversion's, and
    * those planted here on the rows `gateCol` selects — NULL into a NOT
    * NULL or key column the statement writes (`written`, lower-case),
    * 1048; a CHAR/VARCHAR value over its declared length, 1406; and under
    * IGNORE or non-strict mode an ENUM/SET value outside its vocabulary,
    * 1265. Strict, the first class of failure any row has (conversions,
    * then ranges, NULLs and lengths) is MySQL's error, quoting the value
    * of the first row that has it. Otherwise each value coerces — ENUM
    * to '', SET elements dropped, NULL to the type zero, long strings
    * truncated — and each flag becomes its warning, the length one as
    * 1105 like the reference's ErrLengthBeyondLimit (reference
    * rowexec/insert.go and update.go ignore paths). One aggregate counts
    * the flags either way; the flags are dropped. */
  private[graft] def settleWrite(table: String, image: DataFrame, strict: Boolean,
      gateCol: Option[String] = None, written: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    val gate = gateCol.map(g => col(s"`$g`")).getOrElse(lit(true))
    var df = image
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    def flag(code: Int, name: String, cond: org.apache.spark.sql.Column,
             value: org.apache.spark.sql.Column, coerced: => org.apache.spark.sql.Column): Unit = {
      val f = s"__w${code}_${name}__"
      df = df.withColumn(f, when(gate && cond, value.cast("string")))
      if (!strict) df = df.withColumn(name,
        when(col(s"`$f`").isNotNull, coerced).otherwise(col(s"`$name`")))
    }
    val defn = tableDef(table)
    if (!strict) defn.columns.foreach {
      case (cLower, ColumnDef.Vocab(isSet, vocab, ci)) if present.contains(cLower) =>
        val name = present(cLower)
        val c = col(s"`$name`")
        val cp = c.cast(org.apache.spark.sql.types.StringType)
        if (isSet) flag(1265, name, c.isNotNull && size(filter(split(cp, ","),
            e => e =!= lit("") && !vocabMember(e, vocab, ci))) > 0, c,
          array_join(filter(split(cp, ","), e => vocabMember(e, vocab, ci)), ",")
            .cast(df.schema(name).dataType))
        else flag(1265, name, c.isNotNull && !vocabMember(c, vocab, ci), c, lit(""))
      case _ =>
    }
    val pk = defn.keyLower
    spark.table(table).schema.fields.foreach { f =>
      val lo = f.name.toLowerCase
      if (written(lo) && (defn.col(lo).notNull || pk(lo) || (!strict && !f.nullable)))
        present.get(lo).foreach { name =>
          val zero = zeroValueLit(f.dataType)
          if (strict || zero.isDefined)
            flag(1048, name, col(s"`$name`").isNull, lit("NULL"), zero.get)
        }
    }
    defn.columns.foreach {
      case (cLower, cd) if cd.charLimit.isDefined && present.contains(cLower) =>
        val n = cd.charLimit.get
        val name = present(cLower)
        val c = col(s"`$name`").cast("string")
        flag(1406, name, c.isNotNull && length(c) > n, c, substring(c, 1, n))
      case _ =>
    }
    val Flag = """__w(\d{4})_(.+)__""".r
    val rank = Map(1366 -> 0, 1292 -> 0, 1264 -> 1, 1265 -> 2, 1048 -> 3, 1406 -> 4)
    val flags = df.columns.toSeq.collect { case f @ Flag(code, c) => (f, code.toInt, c) }
      .sortBy(f => rank(f._2))
    if (flags.isEmpty) return df
    val aggs = flags.map { case (f, _, _) => count(col(s"`$f`")) }
    val row = localRows(df.agg(aggs.head, aggs.tail: _*)).head
    flags.zipWithIndex.foreach { case ((f, code, c), i) =>
      if (strict && row.getLong(i) > 0) {
        // the value of the first row that sets the flag, in `__rid__`
        // order where the image has one, else in the rows' own order
        val setting = df.filter(col(s"`$f`").isNotNull)
        val v = localRows((if (df.columns.contains("__rid__")) setting.orderBy("__rid__")
          else setting).select(col(s"`$f`")).limit(1)).head.getUTF8String(0).toString
        throw new IllegalArgumentException(code match {
          case 1366 => s"Incorrect value: '$v' for column '$c' (MySQL error 1366)"
          case 1292 =>
            val kind = if (image.schema(c).dataType == org.apache.spark.sql.types.DateType) "date"
              else "datetime"
            s"Incorrect $kind value: '$v' (MySQL 1292)"
          case 1264 => image.schema(c).dataType match {
            case d: org.apache.spark.sql.types.DecimalType =>
              "Out of range value for column of Decimal type " +
                s"('$c' DECIMAL(${d.precision},${d.scale}) cannot hold $v — MySQL error 1264)"
            case _ => s"Out of range value for column '$c' (MySQL error 1264)"
          }
          case 1048 => s"Column '$c' cannot be null (MySQL error 1048)"
          case _ => s"string '$v' is too large for column '$c' (MySQL error 1406)"
        })
      }
      if (!strict && row.getLong(i) > 0) code match {
        case 1366 => warnN(row.getLong(i), 1366,
          s"Incorrect value for column '$c': stored the type zero value")
        case 1264 => warnN(row.getLong(i), 1264, s"Out of range value for column '$c'")
        case 1265 => warnN(row.getLong(i), 1265, s"Data truncated for column '$c'")
        case 1048 => warnN(row.getLong(i), 1048, s"Column '$c' cannot be null")
        case _ => warnN(row.getLong(i), 1105, s"string is too large for column '$c'")
      }
    }
    df.drop(flags.map(_._1): _*)
  }

  /** Declare `table.column` as ENUM(values...): writes reject any value
    * outside the vocabulary (MySQL error 1265, Data truncated). Trailing
    * spaces are deleted from member values at declaration time
    * (enum.go:83 — MySQL strips them unless the binary collation is in
    * use, which parquet-backed string columns never are). `ci`: the
    * column collation is case-insensitive (*_ci), so member matching is
    * too: lookup hashes through the collation in the reference
    * (sql/types/enum.go:86 collation.HashToUint), so 'ABC' matches member
    * 'abc' and stores the DECLARED spelling. The reference's default
    * collation is utf8mb4_0900_bin, so sensitivity stays the default. */
  def declareEnum(table: String, column: String, values: Seq[String],
                  ci: Boolean = false): Unit =
    alterCol(table, column)(_.copy(
      vocab = Some((false, values.map(_.replaceAll(" +$", "")))), vocabCi = ci))

  /** Declare `table.column` as SET(values...): writes reject any
    * comma-separated element outside the vocabulary. '' is the empty set.
    * Trailing spaces are deleted from member values (set.go:79). */
  def declareSet(table: String, column: String, values: Seq[String],
                 ci: Boolean = false): Unit = {
    val vs = values.map(_.replaceAll(" +$", ""))
    // duplicate members are rejected at declaration (set.go
    // ErrDuplicateEntrySet; case-insensitive collations compare folded)
    val keys = if (ci) vs.map(_.toLowerCase) else vs
    keys.diff(keys.distinct).headOption.foreach { d =>
      throw new IllegalArgumentException(
        s"Duplicate entry '$d' in SET definition of column '$column' " +
        "(MySQL ErrDuplicateEntrySet)")
    }
    alterCol(table, column)(_.copy(vocab = Some((true, vs)), vocabCi = ci))
  }

  /** Collation-aware membership test for one scalar value column.
    * Comparisons run over PLAIN strings (a declared COLLATE becomes a
    * Spark collated string type whose equality would impose its own
    * case rules; the vocab layer owns the semantics here). */
  private def vocabMember(c: org.apache.spark.sql.Column, vocab: Seq[String],
      ci: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val cp = c.cast(org.apache.spark.sql.types.StringType)
    if (ci) lower(cp).isInCollection(vocab.map(_.toLowerCase).distinct)
    else cp.isInCollection(vocab)
  }

  /** Map a case-variant member to its DECLARED spelling (ci columns);
    * non-members pass through unchanged. */
  private def vocabCanonical(c: org.apache.spark.sql.Column,
      vocab: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val cp = c.cast(org.apache.spark.sql.types.StringType)
    val declared = array(vocab.map(lit): _*)
    val lowered = array(vocab.map(v => lit(v.toLowerCase)): _*)
    val pos = array_position(lowered, lower(cp))
    when(pos > 0, element_at(declared, pos.cast("int"))).otherwise(cp)
  }

  /** Resolve a bare column name to its declared ENUM/SET vocabulary for
    * the ordinal rewrite. Conservative: the declaring table must appear
    * as a word in the statement, every matching declaration must agree,
    * and a projection alias of the same name disables the rewrite. */
  private def vocabLookup(sqlText: String)(name: String): Option[(Boolean, Seq[String])] = {
    val parts = name.split('.')
    val colName = parts.last
    val tblQ = if (parts.length >= 2) Some(parts(parts.length - 2)) else None
    val cands = tables.toSeq.flatMap { case (t, d) =>
      d.columns.get(colName).flatMap(_.vocab)
        .filter(_ => tblQ.forall(q => t.toLowerCase.split('.').last == q)).map(t -> _)
    }
    val present = cands.filter { case (t, _) =>
      val bare = java.util.regex.Pattern.quote(t.split('.').last)
      s"(?i)\\b$bare\\b".r.findFirstIn(sqlText).isDefined
    }
    val aliasShadow =
      s"(?i)\\bAS\\s+`?${java.util.regex.Pattern.quote(colName)}`?\\b".r
        .findFirstIn(sqlText).isDefined
    present.map(_._2).distinct match {
      case Seq(v) if !aliasShadow => Some(v)
      case _ => None
    }
  }

  /** Write-side ENUM numeric-index coercion (enum.go Convert int case):
    * a numeric value N stores the N-th member (1-based). A value that is
    * neither a member nor a valid index falls through to validateVocab's
    * 1265. */
  private[graft] def coerceVocab(table: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    tableDef(table).columns.foldLeft(df) {
      case (d, (cLower, ColumnDef.Vocab(false, vocab, ci))) if present.contains(cLower) =>
        val name = present(cLower)
        val dt = d.schema(name).dataType
        val c = col(s"`$name`")
        val cp = c.cast(org.apache.spark.sql.types.StringType)
        val idx = cp.cast("int")
        d.withColumn(name,
          when(c.isNull || cp.isInCollection(vocab), c)
            .when(cp.rlike("^[0-9]+$") && idx >= 1 && idx <= vocab.size,
              element_at(array(vocab.map(lit): _*), idx))
            .otherwise(if (ci) vocabCanonical(c, vocab) else c)
            .cast(dt))
      case (d, (cLower, ColumnDef.Vocab(true, vocab, ci))) if present.contains(cLower) =>
        val name = present(cLower)
        val dt = d.schema(name).dataType
        val c = col(s"`$name`")
        val cp = c.cast(org.apache.spark.sql.types.StringType)
        // numeric value = BITMASK over the member list (set.go Convert
        // uint case): SET('a','b','c') stores 5 as 'a,c', 0 as ''.
        // Out-of-range masks fall through to validateVocab's 1265.
        val n = vocab.size
        val asNum = cp.cast("bigint")
        val vocabArr = array(vocab.map(lit): _*)
        val isMask = cp.rlike("^[0-9]+$") && !cp.isInCollection(vocab) &&
          asNum >= 0 && asNum < lit(math.pow(2, n.min(52)).toLong)
        val decoded = array_join(
          filter(
            transform(sequence(lit(0), lit(n - 1)), i =>
              when(((asNum.cast("double") /
                  pow(lit(2.0), i.cast("double"))).cast("bigint") % 2) === 1,
                element_at(vocabArr, i + 1))),
            x => x.isNotNull), ",")
        val canonical =
          if (ci) array_join(
            transform(split(cp, ","), el => vocabCanonical(el, vocab)), ",")
          else cp
        // MySQL normalizes SET text on write: duplicates drop and the
        // surviving members order by DECLARATION position
        // (script_queries.go "set with duplicates":
        // 'a,b,a,c,a,b,b,b,c,c,c,a,a' stores 'a,b,c'). Unknown members
        // keep the raw text so validateVocab's 1265 still fires.
        val partsCanon = split(
          if (ci) array_join(
            transform(split(cp, ","), el => vocabCanonical(el, vocab)), ",")
          else cp, ",")
        val allMembers = forall(partsCanon,
          el => array_contains(vocabArr, el) || el === lit(""))
        val normalized = array_join(
          filter(vocabArr, m => array_contains(partsCanon, m)), ",")
        d.withColumn(name,
          when(c.isNull || cp === lit(""), c)
            .when(isMask, decoded)
            .when(allMembers, normalized)
            .otherwise(canonical)
            .cast(dt))
      case (d, _) => d
    }
  }

  /** Declared VECTOR(n) dimension check on the incoming batch — one
    * distributed filter + limit(1) per declared column
    * (vector_ddl_queries.go "VECTOR dimension mismatch"). */
  private[graft] def validateVecDims(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, size}
    tableDef(table).columns.collect { case (c, cd) if cd.vecDim.exists(_ > 0) =>
      val n = cd.vecDim.get
      df.columns.find(_.equalsIgnoreCase(c)).foreach { cn =>
        val bad = df.filter(col(s"`$cn`").isNotNull &&
            size(col(s"`$cn`")) =!= n)
          .select(size(col(s"`$cn`"))).limit(1).collect()
        bad.headOption.foreach(r => throw new IllegalArgumentException(
          s"VECTOR dimension mismatch: expected $n, got ${r.getInt(0)}"))
      }
    }
  }

  private[graft] def validateVocab(table: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    tableDef(table).columns.foreach {
      case (cLower, ColumnDef.Vocab(isSet, vocab, ci)) if present.contains(cLower) =>
        val c = col(present(cLower))
        val cp = c.cast(org.apache.spark.sql.types.StringType)
        val offending =
          if (isSet)
            // every csv element must be in the vocabulary ('' = empty set)
            size(filter(split(cp, ","),
              e => e =!= lit("") && !vocabMember(e, vocab, ci))) > 0
          else !vocabMember(c, vocab, ci)
        val bad = df.filter(c.isNotNull && offending)
          .select(c.cast("string")).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"Data truncated for column '${present(cLower)}': value " +
            s"'${bad(0).getString(0)}' not in ${if (isSet) "SET" else "ENUM"}" +
            vocab.mkString("('", "','", "')"))
      case _ =>
    }
  }

  /** DROP TABLE/VIEW (db-qualified names drop the catalog view). The
    * table's entry, or the view's definition, drops with it; a table
    * that shadowed a base table (CREATE TEMPORARY TABLE) brings the base
    * back with its entry. */
  def drop(name: String): Unit = {
    // MySQL errno 3730: a parent with referencing children cannot drop
    // (suspended while FOREIGN_KEY_CHECKS=0, like InnoDB)
    if (fkChecksEnabled &&
        foreignKeys.exists(f => f.parent == name && f.child != name))
      throw new IllegalArgumentException(
        s"Cannot drop table '$name': referenced by a foreign key " +
        s"constraint (MySQL error 3730)")
    tables.remove(name)
    viewDefs.remove(name)
    viewDeps.remove(name)
    if (!unshadow(name)) {
      if (name.contains(".")) {
        val Array(db, t) = name.split("\\.", 2)
        spark.sql(s"DROP VIEW IF EXISTS `$db`.`$t`")
      } else spark.catalog.dropTempView(name)
    }
    // views naming the dropped relation re-resolve (and break) now
    refreshViews(name)
  }

  /** LOAD DATA INFILE (reference sql/plan/load_data.go:25): delimited-file
    * ingest with the reference's clause surface mapped onto the csv
    * reader — FIELDS TERMINATED BY -> `sep`, [OPTIONALLY] ENCLOSED BY ->
    * `quote`, ESCAPED BY -> `escape`, LINES TERMINATED BY -> `lineSep`,
    * IGNORE 1 LINES -> `header`. LINES STARTING BY and IGNORE n>1 LINES
    * have no reader option, so those paths pre-filter a text scan (same
    * one-pass ingest; the line order of a single infile is preserved by
    * the zip index). The scan distributes across executors like any file
    * source. */
  def loadData(table: String, path: String, fieldsTerminatedBy: String = ",",
               ignoreHeader: Boolean = false, format: String = "csv",
               enclosedBy: String = "\"", escapedBy: String = "\\",
               linesTerminatedBy: String = "\n", linesStartingBy: String = "",
               ignoreLines: Int = 0, mode: String = "",
               items: Seq[String] = Seq.empty,
               sets: Seq[(String, String)] = Seq.empty): Long = {
    // multi-character ENCLOSED BY / ESCAPED BY terms are MySQL errors
    // (load_queries.go ErrUnexpectedSeparator)
    if (enclosedBy.length > 1 || escapedBy.length > 1)
      throw new IllegalArgumentException(
        "LOAD DATA field terms must be a single character " +
        "(MySQL ErrUnexpectedSeparator)")
    // missing infile is MySQL ErrLoadDataCannotOpen, surfaced eagerly
    // (the distributed read is lazy and would error mid-insert). Probe
    // through the Hadoop FileSystem so scheme'd paths (hdfs://, s3a://,
    // file: URIs) a cluster deployment feeds resolve the same way the
    // actual spark.read will — a bare java.io.File check would reject
    // every non-local path Spark could open.
    val canOpen = try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case _: java.io.IOException | _: IllegalArgumentException => false }
    if (!canOpen)
      throw new IllegalArgumentException(
        s"LOAD DATA is unable to open file: '$path' " +
        s"(MySQL ErrLoadDataCannotOpen)")
    val df = format match {
      case "csv" =>
        val base = spark.read
          .option("sep", fieldsTerminatedBy)
          .option("quote", if (enclosedBy.isEmpty) "\u0000" else enclosedBy)
          .option("escape", if (escapedBy.isEmpty) "\u0000" else escapedBy)
          .option("nullValue", "\\N") // MySQL \N = SQL NULL (load_data.go)
          .option("inferSchema", true)
        if (linesStartingBy.isEmpty && ignoreLines == 0 &&
            linesTerminatedBy == "\n")
          base.option("header", ignoreHeader).csv(path)
        else {
          // MySQL semantics (load_data.go): IGNORE n skips the first n
          // lines; LINES STARTING BY keeps only lines containing the
          // prefix and drops everything up to and including it.
          val lines = spark.read.option("lineSep", linesTerminatedBy)
            .text(path)
          val skip = ignoreLines + (if (ignoreHeader) 1 else 0)
          val kept0 = if (skip == 0) lines
            else {
              import org.apache.spark.sql.functions.monotonically_increasing_id
              // single-infile ingest: ids are ordered within the file scan
              lines.withColumn("__idx", monotonically_increasing_id())
                .orderBy("__idx").offset(skip).select("value")
            }
          import spark.implicits._
          val kept = if (linesStartingBy.isEmpty) kept0.as[String]
            else kept0.as[String]
              .filter(_.contains(linesStartingBy))
              .map(l => l.substring(
                l.indexOf(linesStartingBy) + linesStartingBy.length))
          base.csv(kept)
        }
      case "json" => spark.read.json(path) // JSON-lines
      case "parquet" => Tables.read(spark, path)
      case other => throw new IllegalArgumentException(s"LOAD DATA format $other")
    }
    // an existing declared table keeps its schema and its rows: fields
    // bind positionally and reach insertDf as read, so each column's
    // write conversion (writeConversion: 1366 strict, a zero value with
    // a warning otherwise) applies as on INSERT. A file with
    // FEWER columns than the table NULL-fills the tail (MySQL warning
    // 1261 "Row N doesn't contain data for all columns"); a file with
    // MORE columns truncates the extras (warning 1262). The load
    // appends through insertDf, or replaceRows in REPLACE mode — it never
    // replaces the table.
    val target = scala.util.Try(spark.table(table)).toOption
    // explicit (col | @var, …) item list: fields bind POSITIONALLY to
    // the items; @vars capture their field for the SET clause
    // (statement-scoped — they never leak into the session), columns
    // absent from the list take their declared DEFAULT, and extra file
    // fields beyond the list drop (load_queries.go "extra fields, user
    // variables, and missing fields").
    val shaped: Option[DataFrame] = if (items.isEmpty && sets.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{col, lit}
        val t = target.getOrElse(throw new IllegalArgumentException(
          s"Table '$table' doesn't exist"))
        val tcols = t.columns.map(c => c.toLowerCase -> c).toMap
        val srcCols = df.columns
        val effItems =
          if (items.nonEmpty) items
          else t.columns.take(srcCols.length).toSeq
        val bound = effItems.zipWithIndex.map { case (it, i) =>
          val src = if (i < srcCols.length) col(s"`${srcCols(i)}`")
            else lit(null)
          if (it.startsWith("@@"))
            throw new IllegalArgumentException(s"syntax error near '$it'")
          if (it.startsWith("@"))
            // position-unique alias: the same @var may appear twice in
            // one list ("(@trash2, j, @trash2)") — the LAST wins below
            src.as(s"__ldvar_${i}_${it.stripPrefix("@").toLowerCase}__")
          else {
            val cn = tcols.getOrElse(it.toLowerCase,
              throw new IllegalArgumentException(
                s"Unknown column '$it' in 'field list' (MySQL 1054)"))
            src.as(cn)
          }
        }
        var cur = df.select(bound.toIndexedSeq: _*)
        // var name -> its LAST bound column (MySQL: later binding wins)
        val VarCol = """__ldvar_\d+_(.+)__""".r
        val boundVars: Map[String, String] = cur.columns.collect {
          case c @ VarCol(nm) => nm -> c
        }.toMap
        sets.foreach { case (cn0, ex0) =>
          // @@sysvars are not assignable through LOAD DATA SET
          // (load_queries.go "user var alias edge case")
          if (ex0.contains("@@") || cn0.startsWith("@"))
            throw new IllegalArgumentException(
              s"syntax error near '${if (cn0.startsWith("@")) cn0 else "@@"}'")
          val cn = tcols.getOrElse(cn0.toLowerCase,
            throw new IllegalArgumentException(
              s"Unknown column '$cn0' in 'field list' (MySQL 1054)"))
          // item-bound @vars resolve per row; other @vars read the
          // static session value at statement start
          val ex = Dialect.mapCode(ex0) { code =>
            """@([A-Za-z_][A-Za-z0-9_]*)""".r.replaceAllIn(code, m => {
              val nm = m.group(1).toLowerCase
              java.util.regex.Matcher.quoteReplacement(
                if (boundVars.contains(nm)) s"`${boundVars(nm)}`"
                else getVarRaw(nm) match {
                  case Some(s: String) => "'" + s.replace("'", "''") + "'"
                  case Some(v) => String.valueOf(v)
                  case None => "NULL"
                })
            })
          }
          cur = cur.withColumn(cn,
            org.apache.spark.sql.functions.expr(ex)
              .cast(t.schema(cn).dataType))
        }
        val varCols = cur.columns.filter(_.startsWith("__ldvar_"))
        if (varCols.nonEmpty) {
          // user vars assigned by the item list PERSIST with the last
          // row's captured value (load_queries.go "assign to User
          // Variables": select @i,@j,@k after the load reads the final
          // row; a missing final field leaves NULL)
          val col_ = org.apache.spark.sql.functions.col _
          val ordered = boundVars.toSeq
          cur.select(ordered.map(v => col_(s"`${v._2}`")).toIndexedSeq: _*)
            .tail(1).headOption.foreach { r =>
              ordered.zipWithIndex.foreach { case ((nm, _), i) =>
                setVar(nm, r.get(i))
              }
            }
        }
        Some(cur.drop(varCols.toIndexedSeq: _*))
      }
    val coerced = shaped.getOrElse(target match {
      case Some(t) =>
        val srcCols = df.columns
        val cols = t.schema.fields.zipWithIndex.map { case (f, i) =>
          if (i < srcCols.length)
            org.apache.spark.sql.functions.col(s"`${srcCols(i)}`").as(f.name)
          else org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
        }
        // column-count mismatch warnings (MySQL 1261 short rows /
        // 1262 truncated extras; reference sql/rowexec/load_data.go) —
        // every row of a uniform delimited file triggers one
        if (srcCols.length < t.schema.fields.length)
          warnRows(df.count(), 1261,
            i => s"Row $i doesn't contain data for all columns")
        else if (srcCols.length > t.schema.fields.length)
          warnRows(df.count(), 1262,
            i => s"Row $i was truncated; it contained more data than " +
              "there were input columns")
        df.select(cols.toSeq: _*)
      case _ => df
    })
    validateVocab(table, coerced)
    target match {
      case Some(_) =>
        mode match {
          case "REPLACE" =>
            // REPLACE INTO's semantics (load_queries.go "Load data can
            // replace row with existing primary key")
            replaceRows(table, coerced, fillMissing = shaped.nonEmpty)
          case "IGNORE" =>
            insertDf(table, coerced, fillMissing = shaped.nonEmpty,
              ignoreDups = true)
          case _ =>
            insertDf(table, coerced, fillMissing = shaped.nonEmpty)
        }
      case _ =>
        val n = coerced.count()
        coerced.createOrReplaceTempView(table)
        n
    }
  }

  /** SELECT ... INTO OUTFILE (reference sql/plan/into.go:26): delimited
    * sink. One file per partition at scale; `single` coalesces for the
    * MySQL-compatible one-file shape. */
  def intoOutfile(sql: String, path: String, fieldsTerminatedBy: String = ",",
                  single: Boolean = true): Unit = {
    val df = query(sql)
    (if (single) df.coalesce(1) else df)
      .write.mode("overwrite").option("sep", fieldsTerminatedBy).csv(path)
  }

  /** Exact registry of the engine's information_schema scaffolding view
    * names: SHOW TABLES / information_schema.tables hide these by
    * MEMBERSHIP, never by name prefix — a user table that happens to be
    * called `information_schema_foo` must stay visible. */
  // JVM-global (companion): the views live in the SHARED SparkSession,
  // so a fresh Engine must still hide scaffolding a previous one
  // registered
  private[graft] def infoSchemaViews = Engine.infoSchemaViews
  private[graft] implicit class InfoViewDf(
      df: org.apache.spark.sql.DataFrame) {
    def asInfoView(name: String): Unit = {
      infoSchemaViews += name.toLowerCase
      df.createOrReplaceTempView(name)
    }
  }

  /** SHOW TABLES (catalog read; info-schema scaffolding excluded).
    * Spark lowercases temp-view names; the created spelling is restored
    * from the table entries and views (script_queries.go rename blocks expect
    * newTableName back, not newtablename). */
  def showTables(): Seq[String] =
    (spark.catalog.listTables().collect().map(_.name).toSeq
      .filterNot(n => infoSchemaViews(n.toLowerCase))
      .map(canonicalTable) ++
      // a BROKEN view (underlying table renamed/dropped) has no live
      // temp view but stays in the catalog listing, like MySQL
      brokenViews.toSeq.filter(viewDefs.contains))
      .distinct.sortBy(_.toLowerCase)

  /** DESCRIBE t (catalog read). */
  def describe(table: String): Seq[(String, String)] =
    spark.table(table).schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq

  /** Synthesize information_schema views from the session catalog
    * (reference: sql/information_schema/ — schemata_table.go,
    * tables_table.go, columns_table.go, statistics, collations,
    * character_sets, engines, routines). Spark temp views cannot carry a
    * dot, so the MySQL `information_schema.X` names become
    * `information_schema_X`: `SELECT * FROM information_schema_columns
    * WHERE table_name = 'lineitem'`. */
  // ---- column statistics / histograms -----------------------------------
  // ANALYZE TABLE fills per-key-column stats; ANALYZE ... UPDATE/DROP
  // HISTOGRAM manages them explicitly (reference stats_queries.go;
  // MySQL information_schema.column_statistics). The JSON shape follows
  // MySQL's USING DATA grammar: row_count / distinct_count / null_count
  // / buckets[{row_count, distinct_count, upper_bound, bound_count}].
  // Each table's histograms live in its entry (TableDef.stats).

  /** One distributed pass per column: total/null/distinct counts plus an
    * equi-height histogram capped at 20 buckets — at scale the groupBy
    * is a map-side-combined exchange on the column, the same shape the
    * reference's stats collector takes over index leaves. */
  private[graft] def computeColumnStats(table: String, col0: String): String = {
    import org.apache.spark.sql.functions._
    val t = spark.table(table)
    val c = t.columns.find(_.equalsIgnoreCase(col0)).getOrElse(
      throw new IllegalArgumentException(
        s"Unknown column '$col0' in '$table'"))
    def jsonVal(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      case d: java.sql.Date => "\"" + d + "\""
      case ts: java.sql.Timestamp => "\"" + ts + "\""
      case other => String.valueOf(other)
    }
    val maxBuckets = 20
    val grouped = t.groupBy(col(s"`$c`").as("v"))
      .agg(count(lit(1)).as("n"))
    // cardinality gate: plain ANALYZE runs this over key columns, whose
    // distinct set IS the table — collecting it driver-side is an OOM at
    // scale. Low-cardinality columns keep the exact in-driver histogram;
    // past the cap the identical bucket layout is computed distributed
    // (executor-side sort window, spillable) and only <= maxBuckets
    // summary rows ever reach the driver.
    val distinctCap = 10000L
    val probe = grouped.limit((distinctCap + 1).toInt).count()
    if (probe <= distinctCap) {
      val groups = grouped.orderBy(col("v")).collect()
      val (nullRows, valRows) = groups.partition(_.isNullAt(0))
      val nulls = nullRows.map(_.getLong(1)).sum
      val rowCount = nulls + valRows.map(_.getLong(1)).sum
      val distinct = valRows.length.toLong
      // equi-height merge to <= 20 buckets (small tables get one bucket
      // per distinct value, like the reference's exact histograms)
      val per = math.max(1, math.ceil(valRows.length / maxBuckets.toDouble).toInt)
      val buckets = valRows.grouped(per).map { g =>
        val n = g.map(_.getLong(1)).sum
        val ub = g.last.get(0)
        s"""{"row_count": $n, "distinct_count": ${g.length}, """ +
          s""""upper_bound": [${jsonVal(ub)}], """ +
          s""""bound_count": ${g.last.getLong(1)}}"""
      }.mkString("[", ", ", "]")
      s"""{"row_count": $rowCount, "distinct_count": $distinct, """ +
        s""""null_count": $nulls, "buckets": $buckets}"""
    } else {
      import org.apache.spark.sql.expressions.Window
      val totals = t.agg(count(lit(1)).as("rc"),
        count(col(s"`$c`")).as("nn")).head()
      val rowCount = totals.getLong(0)
      val nulls = rowCount - totals.getLong(1)
      val nonNull = grouped.filter(col("v").isNotNull)
      val distinct = nonNull.count()
      val per = math.max(1L, math.ceil(distinct / maxBuckets.toDouble).toLong)
      // same layout rule as the exact path: rank distinct values by v,
      // bucket i = ranks [i*per, (i+1)*per). The global window sorts on
      // one executor task (disk-spillable), never on the driver.
      val w = Window.orderBy(col("v"))
      val rows = nonNull
        .withColumn("rk", row_number().over(w))
        .withColumn("b", ((col("rk") - 1) / per).cast("long"))
        .groupBy(col("b"))
        .agg(sum(col("n")).as("bn"), count(lit(1)).as("bd"),
          max(struct(col("rk"), col("v"), col("n"))).as("last"))
        .orderBy(col("b")).collect()
      val buckets = rows.map { r =>
        val last = r.getStruct(3)
        s"""{"row_count": ${r.getLong(1)}, "distinct_count": ${r.getLong(2)}, """ +
          s""""upper_bound": [${jsonVal(last.get(1))}], """ +
          s""""bound_count": ${last.getLong(2)}}"""
      }.mkString("[", ", ", "]")
      s"""{"row_count": $rowCount, "distinct_count": $distinct, """ +
        s""""null_count": $nulls, "buckets": $buckets}"""
    }
  }

  /** The key columns plain ANALYZE TABLE collects stats for: the
    * primary key plus every declared secondary/unique index column. */
  private[graft] def analyzedColumns(table: String): Seq[String] = {
    val t = scala.util.Try(spark.table(table)).toOption
    val d = tableDef(table)
    val declared = d.key.getOrElse(Seq.empty) ++ (d.indexes ++ d.uniques).flatMap(_._2)
    declared.distinct.filter(c =>
      t.exists(_.columns.exists(_.equalsIgnoreCase(c))))
  }

  /** The session's MySQL-visible schema name. The reference harness's
    * default database is `mydb` and its corpora filter on it; Spark-side
    * temp views carry no database, so this is a display name only. */
  private[graft] var sessionDb: String = "mydb"

  def enableInformationSchema(): Unit = {
    import spark.implicits._
    // the information_schema_* views themselves are catalog
    // infrastructure, not user tables — never enumerate them
    val listed = spark.catalog.listTables().collect()
      .filterNot(t => infoSchemaViews(t.name.toLowerCase))
    val db = sessionDb

    // every known database plus information_schema itself; reference
    // schemata_table.go defaults a schema to utf8mb4/utf8mb4_0900_bin
    // unless CREATE DATABASE declared a charset/collation
    val sparkDbs = spark.catalog.listDatabases().collect().map(_.name)
      .filterNot(_ == "default").map(dbShown).toSeq
    val allDbs = ("information_schema" +:
      (if (sparkDbs.nonEmpty) sparkDbs else Seq(db))).distinct
    allDbs.map { d =>
      val (cs, coll) = dbCollations.getOrElse(
        d.toLowerCase, ("utf8mb4", "utf8mb4_0900_bin"))
      ("def", d, cs, coll, null: String, "NO")
    }
      .toDF("catalog_name", "schema_name", "default_character_set_name",
        "default_collation_name", "sql_path", "default_encryption")
      .asInfoView("information_schema_schemata")

    // MySQL's full 21-column TABLES shape (tables_table.go; the
    // information_schema_queries.go "column specific tests" blocks pin
    // version=10, row_format=Dynamic, empty create_options/comment)
    listed.map { t =>
      val isView = t.tableType == "VIEW" || viewDefs.contains(t.name)
      // table_rows: the optimized plan's row count, read without a job.
      // Exact when the rows are stored on the driver (a LocalRelation
      // generation, see replaceTable), like the reference's live count
      // (tables_table.go). File-backed generations, lazy CTAS views and
      // unions over them carry no row count and report 0.
      val rowsEst: java.lang.Long =
        if (isView) null
        else scala.util.Try(
          spark.table(t.name).queryExecution.optimizedPlan.stats.rowCount
            .map(_.toLong)).toOption.flatten.map(Long.box)
          .getOrElse(java.lang.Long.valueOf(0L))
      (("def", Option(t.database).getOrElse(db), t.name,
        if (isView) "VIEW" else "BASE TABLE",
        if (isView) null else "InnoDB",
        if (isView) null else Integer.valueOf(10),
        if (isView) null else "Dynamic",
        rowsEst),
       (if (isView) null else java.lang.Long.valueOf(0L),
        if (isView) null else java.lang.Long.valueOf(0L),
        if (isView) null else java.lang.Long.valueOf(0L),
        if (isView) null else java.lang.Long.valueOf(0L),
        if (isView) null else java.lang.Long.valueOf(0L),
        // AUTO_INCREMENT: the NEXT counter value once one has been
        // allocated or ALTERed, NULL before (insert_queries.go)
        tableDef(t.name).autoIncCounter.map(java.lang.Long.valueOf).orNull,
        if (isView) null
          else tableDef(t.name).collation.getOrElse(defaultCollation(tableDef(t.name).charset.getOrElse("utf8mb4"))),
        null: java.lang.Long,
        if (isView) null else "",
        if (isView) "VIEW" else tableDef(t.name).comment.getOrElse("")))
    }.toSeq
      .map { case ((a1, a2, a3, a4, a5, a6, a7, a8),
                   (b1, b2, b3, b4, b5, b6, b7, b8, b9, b10)) =>
        (a1, a2, a3, a4, a5, a6, a7, a8, b1, b2, b3, b4, b5, b6, b7, b8,
          b9, b10)
      }
      // plus information_schema's own catalog as SYSTEM VIEW rows
      // (MySQL lists them; information_schema_queries.go enumerates)
      .++(Engine.infoSchemaCatalogTables.map(n =>
        ("def", "information_schema", n, "SYSTEM VIEW", null: String,
          null: Integer, null: String, null: java.lang.Long,
          null: java.lang.Long, null: java.lang.Long, null: java.lang.Long,
          null: java.lang.Long, null: java.lang.Long, null: java.lang.Long,
          "utf8mb4_0900_ai_ci", null: java.lang.Long, null: String, "")))
      .toDF("table_catalog", "table_schema", "table_name", "table_type",
        "engine", "version", "row_format", "table_rows", "avg_row_length",
        "data_length", "max_data_length", "index_length", "data_free",
        "auto_increment", "table_collation", "checksum", "create_options",
        "table_comment")
      .asInfoView("information_schema_tables")

    listed.flatMap { t =>
      // column_key renders like DESCRIBE's Key column (PRI/UNI/MUL;
      // ordinal_ddl_queries.go filters on column_key = 'PRI')
      val defn = tableDef(t.name)
      val pk = defn.keyLower
      val uni = defn.uniques.collect { case (_, Seq(c)) => c.toLowerCase }.toSet
      val mul = defn.indexes.map(_._2.head.toLowerCase).toSet
      spark.table(t.name).schema.fields.zipWithIndex.map { case (f, i) =>
        // a declared vocabulary surfaces as data_type enum/set with the
        // full member list in column_type (reference columns_table.go)
        val dataType = colDef(t.name, f.name).vocab match {
          case Some((true, _)) => "set"
          case Some((false, _)) => "enum"
          // MySQL DATA_TYPE is the bare type keyword of the DECLARED
          // type (columns_table.go): varchar not string, mediumint not
          // int; strip the (n[,m]) suffix off the full render
          case None => renderColumnType(t.name, f).takeWhile(_ != '(').trim
        }
        val lc = f.name.toLowerCase
        val key = if (pk(lc)) "PRI" else if (uni(lc)) "UNI"
          else if (mul(lc)) "MUL" else ""
        val colType = renderColumnType(t.name, f)
        import org.apache.spark.sql.types._
        // COLUMN_DEFAULT displays unquoted literals / bare expressions
        val dflt = colDef(t.name, lc).default.map { d =>
          val tr = d.trim
          if (tr.length >= 2 && tr.startsWith("'") && tr.endsWith("'"))
            tr.substring(1, tr.length - 1).replace("\\'", "'")
          else if (tr.startsWith("(") && tr.endsWith(")"))
            tr.substring(1, tr.length - 1)
          else tr
        }.orNull
        val (numPrec, numScale): (Integer, Integer) = f.dataType match {
          case ByteType => (3, 0); case ShortType => (5, 0)
          case IntegerType => (10, 0)
          case LongType => (19, 0)
          case FloatType => (12, null)
          case DoubleType => (22, null)
          case d: DecimalType => (d.precision, d.scale)
          case _ => (null, null)
        }
        val charMax: Integer = f.dataType match {
          case _: StringType if dataType != "enum" && dataType != "set" =>
            colDef(t.name, lc).charLimit.map(Integer.valueOf)
              .getOrElse(Integer.valueOf(65535))
          case _ => null
        }
        val charOctet: Integer =
          if (charMax == null) null else Integer.valueOf(charMax * 4)
        val dtPrec: Integer = f.dataType match {
          case TimestampType | TimestampNTZType =>
            Integer.valueOf(colDef(t.name, lc).timePrecision.getOrElse(0))
          case DateType => null
          case _ => null
        }
        val (csName, collName) = f.dataType match {
          case _: StringType =>
            ("utf8mb4", tableDef(t.name).collation.getOrElse("utf8mb4_0900_bin"))
          case _ => (null, null)
        }
        val isGen = defn.isGenerated(lc)
        val genExpr = defn.col(lc).generated
          .map(graft.functions.CheckExprRender.render).getOrElse("")
        val extra =
          if (tableDef(t.name).autoInc.exists(_.toLowerCase == lc))
            "auto_increment"
          else if (isGen)
            if (colDef(t.name, lc).stored) "STORED GENERATED"
            else "VIRTUAL GENERATED"
          else if (dflt != null && colDef(t.name, lc).default
              .exists(_.trim.startsWith("("))) "DEFAULT_GENERATED"
          else ""
        (("def", Option(t.database).getOrElse(db), t.name, f.name, i + 1,
          dflt,
          // declared nullability, not the physical frame's flag
          if (f.nullable && !colDef(t.name, lc).notNull && !pk(lc)) "YES"
          else "NO", dataType),
         (charMax, charOctet, numPrec, numScale, dtPrec, csName, collName,
          colType, key, extra, "insert,references,select,update", "",
          genExpr, null: Integer))
      }
    }.toSeq
      .map { case ((a1, a2, a3, a4, a5, a6, a7, a8),
                   (b1, b2, b3, b4, b5, b6, b7, b8, b9, b10, b11, b12, b13, b14)) =>
        (a1, a2, a3, a4, a5, a6, a7, a8, b1, b2, b3, b4, b5, b6, b7, b8,
          b9, b10, b11, b12, b13, b14)
      }
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "column_default", "is_nullable", "data_type",
        "character_maximum_length", "character_octet_length",
        "numeric_precision", "numeric_scale", "datetime_precision",
        "character_set_name", "collation_name", "column_type",
        "column_key", "extra", "privileges", "column_comment",
        "generation_expression", "srs_id")
      .asInfoView("information_schema_columns")

    // declared keys AND secondary/unique index declarations surface
    // (reference statistics_table.go; non_unique = 0 for PK/UNIQUE)
    val allKeys = tables.toSeq.collect { case (t, d) if d.key.isDefined => (t, d.key.get) }
    val allUniques = tables.toSeq.flatMap { case (t, d) => d.uniques.map { case (n, c) => (t, n, c) } }
    val statRows =
      allKeys.flatMap { case (t, cols) =>
        cols.zipWithIndex.map { case (c, i) =>
          (db, t, 0, "PRIMARY", i + 1, c) }
      } ++
      allUniques.flatMap { case (t, n, cols) =>
        cols.zipWithIndex.map { case (c, i) => (db, t, 0, n, i + 1, c) }
      } ++
      tables.toSeq.flatMap { case (t, d) =>
        d.indexes.filter(si => !d.uniques.exists(_._1 == si._1)).flatMap { case (n, cols) =>
          cols.zipWithIndex.map { case (c, i) => (db, t, 1, n, i + 1, c) }
        }
      }
    statRows
      .map { case (sch0, t, nu, idx, seq, c) =>
        val sub: Integer = tableDef(t).indexPrefixes.get((idx, c.toLowerCase))
          .map(Integer.valueOf).orNull
        val nullable = scala.util.Try(spark.table(t).schema
          .fields.find(_.name.equalsIgnoreCase(c)).exists(_.nullable))
          .getOrElse(true)
        // a db-qualified canonical name contributes its own schema
        val dot = t.indexOf('.')
        val (sch, bare) =
          if (dot > 0) (t.substring(0, dot), t.substring(dot + 1))
          else (sch0, t)
        ("def", sch, bare, nu, sch, idx, seq, c, "A", 0L, sub, null: String,
          if (nullable) "YES" else "", "BTREE", "", "", "YES", null: String)
      }
      .toDF("table_catalog", "table_schema", "table_name", "non_unique",
        "index_schema", "index_name", "seq_in_index", "column_name",
        "collation", "cardinality", "sub_part", "packed", "nullable",
        "index_type", "comment", "index_comment", "is_visible", "expression")
      .asInfoView("information_schema_statistics")
    // key_column_usage: PK + UNIQUE + FK child columns with their
    // referenced parent (reference key_column_usage_table.go)
    val kcuRows =
      allKeys.flatMap { case (t, cols) =>
        cols.zipWithIndex.map { case (c, i) =>
          ("PRIMARY", t, c, i + 1, null: String, null: String) }
      } ++
      allUniques.flatMap { case (t, n, cols) =>
        cols.zipWithIndex.map { case (c, i) =>
          (n, t, c, i + 1, null: String, null: String) }
      } ++
      foreignKeys.toSeq.flatMap { f =>
        f.childCols.zip(f.parentCols).zipWithIndex.map {
          case ((cc, pc), i) => (f.name, f.child, cc, i + 1, f.parent, pc)
        }
      }
    // a db-qualified canonical name ("foo.othertable") contributes its
    // own schema; bare names belong to the session db
    // (information_schema_queries.go SELECT-* shapes list foo's PK
    // under constraint_schema foo)
    def schemaOf(t: String): (String, String) = {
      val i = t.indexOf('.')
      if (i > 0) (t.substring(0, i), t.substring(i + 1)) else (db, t)
    }
    kcuRows
      .map { case (n, t, c, i, rt, rc) =>
        val (sch, bare) = schemaOf(t.toLowerCase)
        val (rSch, rBare) =
          if (rt == null) (null: String, null: String)
          else schemaOf(rt.toLowerCase)
        ("def", sch, n, "def", sch, bare, c, i,
          // POSITION_IN_UNIQUE_CONSTRAINT: FK columns carry their
          // ordinal; key columns are NULL (key_column_usage_table.go)
          if (rt == null) null else Integer.valueOf(i),
          rSch, rBare, rc) }
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "position_in_unique_constraint",
        "referenced_table_schema", "referenced_table_name",
        "referenced_column_name")
      .asInfoView("information_schema_key_column_usage")

    // TABLE_CONSTRAINTS / REFERENTIAL_CONSTRAINTS / CHECK_CONSTRAINTS —
    // MySQL's full column shapes (table_constraints_table.go,
    // check_constraints_table.go; check_scripts.go asserts the 7/4-column
    // forms with ENFORCED and the backticked clause rendering)
    // table names render lowercase — Spark's catalog (like the
    // reference's) folds relation names, so `CREATE TABLE T2` lists as
    // t2 and the corpus filters on the folded form
    def tcRow(t: String, n: String, typ: String, en: String) = {
      val (sch, bare) = schemaOf(t.toLowerCase)
      ("def", sch, n, sch, bare, typ, en)
    }
    val pkRows = allKeys.map { case (t, _) =>
      tcRow(t, "PRIMARY", "PRIMARY KEY", "YES") }
    val ckRows = checkConstraints.map { case (t, n, _, en) =>
      tcRow(t, n, "CHECK", if (en) "YES" else "NO") }
    val ukRows = allUniques.map { case (t, n, _) =>
      tcRow(t, n, "UNIQUE", "YES") }
    val fkRows = foreignKeys.toSeq.map(f =>
      tcRow(f.child, f.name, "FOREIGN KEY", "YES"))
    (pkRows ++ ckRows ++ ukRows ++ fkRows)
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_schema", "table_name", "constraint_type", "enforced")
      .asInfoView("information_schema_table_constraints")

    // *_EXTENSIONS catalog tables (MySQL 8 engine-attribute surface —
    // information_schema_queries.go extensions blocks): one row per
    // schema/table/column/constraint, NULL attribute columns
    listed.toSeq.map(t => ("def", Option(t.database).getOrElse(db), t.name,
        null: String, null: String))
      .toDF("table_catalog", "table_schema", "table_name",
        "engine_attribute", "secondary_engine_attribute")
      .asInfoView("information_schema_tables_extensions")
    listed.flatMap { t =>
      scala.util.Try(spark.table(t.name).schema.fields).toOption
        .getOrElse(Array.empty).map(f =>
          ("def", Option(t.database).getOrElse(db), t.name, f.name,
            null: String, null: String))
    }.toSeq
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "engine_attribute", "secondary_engine_attribute")
      .asInfoView("information_schema_columns_extensions")
    (allKeys.map { case (t, _) => ("def", db, "PRIMARY", t.toLowerCase) } ++
      foreignKeys.map(f => ("def", db, f.name, f.child.toLowerCase)) ++
      allUniques.map { case (t, n, _) => ("def", db, n, t.toLowerCase) } ++
      checkConstraints.map { case (t, n, _, _) =>
        ("def", db, n, t.toLowerCase) })
      .map { case (a, b, c, d) => (a, b, c, d, null: String, null: String) }
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_name", "engine_attribute", "secondary_engine_attribute")
      .asInfoView("information_schema_table_constraints_extensions")
    ("information_schema" +: showDatabases().filterNot(_ == "default"))
      .distinct.map(s => ("def", s, ""))
      .toDF("catalog_name", "schema_name", "options")
      .asInfoView("information_schema_schemata_extensions")
    foreignKeys.toSeq
      .map { f =>
        // UNIQUE_CONSTRAINT_NAME: the parent-side key the FK targets —
        // PRIMARY when it is the parent PK, else the matching declared
        // UNIQUE key's name (referential_constraints_table.go)
        val pCols = f.parentCols.map(_.toLowerCase)
        val ucn =
          if (tableDef(f.parent).key.exists(_.map(_.toLowerCase) == pCols))
            "PRIMARY"
          else tableDef(f.parent).uniques.collectFirst {
            case (n, cols) if cols.map(_.toLowerCase) == pCols => n
          }.orNull
        ("def", db, f.name, "def", db, ucn, "NONE", f.onUpdate, f.onDelete,
          f.child, f.parent)
      }
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "unique_constraint_catalog", "unique_constraint_schema",
        "unique_constraint_name", "match_option", "update_rule",
        "delete_rule", "table_name", "referenced_table_name")
      .asInfoView("information_schema_referential_constraints")
    checkConstraints.toSeq.map { case (t, n, ex, _) =>
      ("def", db, n, graft.functions.CheckExprRender.render(ex)) }
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "check_clause")
      .asInfoView("information_schema_check_constraints")

    Seq(("utf8mb4", "utf8mb4_0900_ai_ci", "UTF-8 Unicode", 4))
      .toDF("character_set_name", "default_collate_name", "description",
        "maxlen")
      .asInfoView("information_schema_character_sets")

    // VIEWS: the stored CREATE VIEW definitions (views_table.go)
    viewDefs.toSeq.map { case (n, sql) => ("def", db, n, sql) }
      .toDF("table_catalog", "table_schema", "table_name", "view_definition")
      .asInfoView("information_schema_views")

    registerStaticInfoSchema()

    // COLUMN_STATISTICS: MySQL's 4-column shape (schema, table, column,
    // histogram JSON) — dolt renders its Go statistic struct instead;
    // the JSON here follows the USING DATA grammar (stats_queries.go)
    tables.toSeq.flatMap { case (t, d) => d.stats.map { case (c, h) => (db, t, c, h) } }
      .toDF("schema_name", "table_name", "column_name", "histogram")
      .asInfoView("information_schema_column_statistics")

    // MySQL-client parity: report the InnoDB engine row exactly as the
    // reference does (information_schema_queries.go ENGINES block) —
    // JDBC drivers key capability probes off this
    Seq(("InnoDB", "DEFAULT",
      "Supports transactions, row-level locking, and foreign keys",
      "YES", "YES", "YES"))
      .toDF("engine", "support", "comment", "transactions", "xa", "savepoints")
      .asInfoView("information_schema_engines")

    // registered function surface (reference routines_table.go; here the
    // session FunctionRegistry stands in for stored routines)
    org.apache.spark.sql.GraftBridge.functionRegistry(spark)
      .listFunction().map(f => (f.funcName.toLowerCase, "FUNCTION", db))
      .distinct.sorted
      .toDF("routine_name", "routine_type", "routine_schema")
      .asInfoView("information_schema_routines")
  }

  /** Static MySQL catalogs + empty-but-present system tables — contents
    * never change, so one registration per engine (the dynamic views
    * above re-materialize per info-schema statement). */
  private var staticInfoSchemaDone = false
  private def registerStaticInfoSchema(): Unit = {
    if (staticInfoSchemaDone) return
    staticInfoSchemaDone = true
    import spark.implicits._

    // full 286-collation catalog with MySQL's 7-column shape
    // (collations_table in reference information_schema.go; catalog
    // facts from sql/collations.go collationArray)
    Engine.collationCatalog.map { case (id, n, cs, d, c, sl, pad) =>
      (n, cs, id, if (d) "Yes" else "", if (c) "Yes" else "", sl, pad) }
      .toDF("collation_name", "character_set_name", "id", "is_default",
        "is_compiled", "sortlen", "pad_attribute")
      .asInfoView("information_schema_collations")

    Engine.collationCatalog.map { case (_, n, cs, _, _, _, _) => (n, cs) }
      .toDF("collation_name", "character_set_name")
      .asInfoView(
        "information_schema_collation_character_set_applicability")

    Engine.keywordCatalog
      .toDF("word", "reserved")
      .asInfoView("information_schema_keywords")

    Engine.unitsCatalog
      .toDF("unit_name", "unit_type", "description", "conversion_factor")
      .asInfoView("information_schema_st_units_of_measure")

    Engine.srsCatalog.map { case (n, id, org, ocs, defn, desc) =>
      (n, id, org, ocs, defn, if (desc.isEmpty) null else desc) }
      .toDF("srs_name", "srs_id", "organization",
        "organization_coordsys_id", "definition", "description")
      .asInfoView(
        "information_schema_st_spatial_reference_systems")

    // system tables a JDBC/BI metadata probe expects to resolve —
    // MySQL column shapes, zero rows (reference information_schema.go +
    // innodb_tables.go schemas)
    Engine.infoSchemaEmptyTables.foreach { case (t, cols) =>
      val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c.toLowerCase,
          org.apache.spark.sql.types.StringType, nullable = true)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .asInfoView("information_schema_" + t)
    }
  }

  /** SHOW COLUMNS FROM t — MySQL Field/Type/Null/Key/Default/Extra shape
    * (reference sql/rowexec/show.go showColumns). */
  def showColumns(table: String): Seq[(String, String, String, String, Option[String], String)] = {
    val defn = tableDef(table)
    val pk0 = defn.keyLower
    val uni0 = defn.uniques.collect { case (_, Seq(c)) => c.toLowerCase }.toSet
    // MySQL promotes the FIRST single-column NOT NULL UNIQUE key to the
    // PRI display when the table has no primary key (show.go)
    val promoted: Set[String] =
      if (pk0.nonEmpty) Set.empty
      else defn.uniques.collectFirst {
        case (_, Seq(c)) if defn.col(c).notNull => c.toLowerCase
      }.toSet
    val pk = pk0 ++ promoted
    val uni = uni0 -- promoted
    val mul = defn.indexes.map(_._2.head.toLowerCase).toSet
    spark.table(table).schema.fields.toSeq.map { f =>
      val lc = f.name.toLowerCase
      val key = if (pk(lc)) "PRI" else if (uni(lc)) "UNI"
        else if (mul(lc)) "MUL" else ""
      val extra =
        if (tableDef(table).autoInc.exists(_.equalsIgnoreCase(f.name)))
          "auto_increment"
        else if (defn.isGenerated(f.name)) "STORED GENERATED"
        else ""
      // expression defaults render re-parsed with backticked identifiers
      // and mark Extra DEFAULT_GENERATED (show.go — script_queries.go
      // "Describe with expressions": DEFAULT (pk * 2) shows
      // ((`pk` * 2)) / DEFAULT_GENERATED)
      val (defOut, exprDefault) = colDef(table, lc).default match {
        case Some(d) if d.trim.startsWith("(") && d.trim.endsWith(")") =>
          val rendered =
            try "(" + backtickIdents(org.apache.spark.sql.catalyst
              .parser.CatalystSqlParser.parseExpression(d.trim).sql) + ")"
            catch { case _: Exception => "(" + d.trim + ")" }
          (Some(rendered), true)
        case other => (other, false)
      }
      val extra2 = if (extra.isEmpty && exprDefault) "DEFAULT_GENERATED"
                   else extra
      // nullability is the DECLARED state (NOT NULL / PK), not the
      // physical frame's nullable flag — an expression-default fill can
      // make the stored frame nullable while the column stays NOT NULL
      val notNull = !f.nullable || colDef(table, lc).notNull || pk(lc)
      (f.name, renderColumnType(table, f) + collateSuffix(table, f.name),
        if (notNull) "NO" else "YES", key,
        defOut, extra2)
    }
  }

  /** Declare a secondary index (CREATE INDEX / ALTER ADD INDEX):
    * metadata only — Catalyst plans scans; the declaration surfaces
    * through SHOW INDEX like the reference's index catalog. */
  def declareIndex(table: String, name: String, cols: Seq[String]): Unit =
    alterDef(table)(d => d.copy(indexes = d.indexes :+ ((name, cols))))

  /** Declare a prefix length for an index key part, from `KEY k
    * (col(10))` (reference IndexPrefixQueries). Drives SHOW CREATE
    * rendering; prefix UNIQUE enforcement goes through the unique
    * expression probes (`TableDef.uniqueExprs`). */
  def declareIndexPrefix(table: String, name: String, col: String,
                         len: Int): Unit =
    alterDef(table)(d => d.copy(indexPrefixes = d.indexPrefixes + ((name, col.toLowerCase) -> len)))

  /** Declare a UNIQUE key (beyond the primary key): enforced on insert
    * like the PK, except rows with a NULL key column are exempt (MySQL
    * allows any number of NULLs under a unique index). */
  def declareUnique(table: String, name: String, cols: Seq[String]): Unit =
    alterDef(table)(d => d.copy(uniques = d.uniques :+ ((name, cols))))

  /** Declare a functional UNIQUE index — CREATE UNIQUE INDEX idx ON t
    * ((c1*10)) (reference indexed_expressions_queries.go): the
    * EXPRESSION result must be unique across rows; NULL results are
    * exempt (MySQL NULL != NULL). */
  private[graft] def declareUniqueExpr(table: String, name: String, exprText: String): Unit =
    alterDef(table)(d => d.copy(uniqueExprs = d.uniqueExprs :+ ((name, exprText))))

  def dropIndex(table0: String, name: String): Unit = {
    // table + index names are case-insensitive (case insensitive index
    // handling block drops via a differently-cased spelling)
    val table = canonicalTable(table0)
    tables.get(table).foreach { d =>
      tables(table) = d.copy(
        indexes = d.indexes.filterNot(_._1.equalsIgnoreCase(name)),
        uniques = d.uniques.filterNot(_._1.equalsIgnoreCase(name)),
        uniqueExprs = d.uniqueExprs.filterNot(_._1.equalsIgnoreCase(name)),
        indexPrefixes = d.indexPrefixes.filterNot(_._1._1.equalsIgnoreCase(name)))
    }
  }

  /** 1062-style probe for functional unique indexes: duplicates inside
    * the batch, then batch-vs-existing. Error text matches the
    * reference's "duplicate unique key given: [v]". */
  private[graft] def enforceUniqueExprs(table: String, batch: DataFrame,
                                        target: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    tableDef(table).uniqueExprs.foreach { case (_, ex) =>
      try {
        val b = batch.filter(expr(ex).isNotNull)
          .select(expr(ex).as("__ux"))
        val dupIn = b.groupBy(col("__ux")).count()
          .filter(col("count") > 1).select(col("__ux"))
          .limit(1).collect()
        val dup =
          if (dupIn.nonEmpty) dupIn.headOption
          else {
            val existing = target.filter(expr(ex).isNotNull)
              .select(expr(ex).as("__ux")).distinct()
            b.join(existing, Seq("__ux"), "left_semi")
              .limit(1).collect().headOption
          }
        dup.foreach(r => throw new IllegalArgumentException(
          s"duplicate unique key given: [${r.get(0)}]"))
      } catch {
        case e: IllegalArgumentException => throw e
        case _: org.apache.spark.sql.AnalysisException =>
          // the batch doesn't carry the referenced columns — not a
          // write that can violate this index
      }
    }
  }

  /** Whole-table variant for the post-UPDATE image. */
  private[graft] def enforceUniqueExprsPost(table: String,
                                            df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    tableDef(table).uniqueExprs.foreach { case (_, ex) =>
      firstDuplicate(df.filter(expr(ex).isNotNull), Seq(expr(ex).as("__ux")))
        .foreach(r => throw new IllegalArgumentException(
          s"duplicate unique key given: [${r.get(0)}]"))
    }
  }

  def showIndex(table: String): Seq[(String, String, Int, String)] = {
    spark.table(table) // validates the table exists, like MySQL
    tableDef(table).key.toSeq.flatMap(_.zipWithIndex.map {
      case (c, i) => (table, "PRIMARY", i + 1, c)
    }) ++ tableDef(table).indexes.flatMap { case (n, cols) =>
      cols.zipWithIndex.map { case (c, i) => (table, n, i + 1, c) }
    }
  }

  /** Spark type -> MySQL type name (SURVEY §1.2 mapping, reversed). */
  private def mysqlType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "tinyint"
      case ShortType => "smallint"
      case IntegerType => "int"
      case LongType => "bigint"
      case FloatType => "float"
      case DoubleType => "double"
      case d: DecimalType if d.precision == 20 && d.scale == 0 =>
        "bigint unsigned"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case StringType => "text"
      case BinaryType => "blob"
      case DateType => "date"
      case _: TimestampType => "timestamp"
      case TimestampNTZType => "datetime"
      case BooleanType => "tinyint(1)"
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => "vector"
      case other => other.simpleString // honest fallback for nested types
    }
  }

  /** SHOW CREATE TABLE — renders MySQL-style DDL from the Spark schema
    * (reverse of the SURVEY §1.2 type mapping; reference answers this from
    * its catalog in sql/rowexec/show.go). */
  def showCreateTable(table: String): String = {
    val defn = tableDef(table)
    val pkCols = defn.keyLower
    val aiCol = defn.autoInc.map(_.toLowerCase)
    val fields = spark.table(table).schema.fields.map { f =>
      val lc = f.name.toLowerCase
      // PRIMARY KEY / AUTO_INCREMENT columns are implicitly NOT NULL
      // (MySQL and rowexec/show.go both render them so)
      // the schema's nullable flag can lag a declared NOT NULL (ALTER
      // CHANGE/MODIFY re-declare without rebuilding the frame) — the
      // declaration registry is authoritative
      val nn = if (f.nullable && !pkCols(lc) && !aiCol.contains(lc) &&
          !colDef(table, lc).notNull) ""
        else " NOT NULL"
      val gen = defn.col(lc).generated
        .map { ex =>
          val suffix =
            if (colDef(table, lc).stored) " STORED" else ""
          s" GENERATED ALWAYS AS " +
            s"(${graft.functions.CheckExprRender.render(ex)})$suffix"
        }
        .getOrElse("")
      val dflt = if (gen.nonEmpty) "" else
        colDef(table, lc).default.map { d =>
          // numeric defaults on temporal columns render BARE (MySQL:
          // `ts` timestamp DEFAULT 0 — OnUpdateExprScripts SHOW CREATE)
          val isTs = f.dataType == org.apache.spark.sql.types.TimestampType ||
            f.dataType == org.apache.spark.sql.types.TimestampNTZType
          if (isTs && d.trim.matches("^-?\\d+(\\.\\d+)?$")) d.trim
          else renderDefault(d)
        }.map(d => s" DEFAULT $d").getOrElse("")
      val ai = if (aiCol.contains(lc)) " AUTO_INCREMENT" else ""
      val onUpd = colDef(table, lc).onUpdate.map { p =>
        if (p == 0) " ON UPDATE CURRENT_TIMESTAMP"
        else s" ON UPDATE CURRENT_TIMESTAMP($p)"
      }.getOrElse("")
      val cmt = colDef(table, lc).comment
        .map(c => s" COMMENT '${c.replace("'", "''")}'").getOrElse("")
      s"  `${f.name}` ${renderColumnType(table, f)}" +
        s"${collateSuffix(table, f.name)}$gen$nn$dflt$onUpd$ai$cmt"
    }
    val pk = tableDef(table).key.map(k =>
      s"  PRIMARY KEY (${k.map(c => s"`$c`").mkString(",")})").toSeq
    // prefix key parts render MySQL's `col`(n) form
    def keyPart(n: String, c: String): String =
      s"`$c`" + defn.indexPrefixes.get((n, c.toLowerCase))
        .map(l => s"($l)").getOrElse("")
    // all non-PRIMARY indexes render sorted by name, UNIQUE and plain
    // interleaved (foreign_key_queries.go "Referenced index includes
    // implicit primary key columns": KEY `fk4` before KEY `idx4`;
    // "Reordered foreign key columns do match": KEY `fk` before
    // UNIQUE KEY `id`)
    val uniqueNames = defn.uniques.map(_._1.toLowerCase).toSet
    val namedIdx =
      defn.uniques.map { case (n, cols) =>
        (n, s"  UNIQUE KEY `$n` (${cols.map(keyPart(n, _)).mkString(",")})")
      } ++
      defn.indexes.collect {
        case (n, cols) if !uniqueNames(n.toLowerCase) &&
            !n.equalsIgnoreCase("PRIMARY") =>
          (n, s"  KEY `$n` (${cols.map(keyPart(n, _)).mkString(",")})")
      }
    val uks = namedIdx.sortBy(_._1.toLowerCase).map(_._2)
    val keys = Seq.empty[String]
    val cks = defn.checks.map { case (n, ex, en) =>
        val suffix = if (en) "" else " /*!80016 NOT ENFORCED */"
        s"  CONSTRAINT `$n` CHECK (${graft.functions.CheckExprRender.render(ex)})$suffix"
    }
    val fks = defn.fks.sortBy(_.name).map { fk =>
      // MySQL omits the default actions (both spellings) in SHOW CREATE
      val onDel = if (fk.onDelete == "RESTRICT" || fk.onDelete == "NO ACTION") ""
        else s" ON DELETE ${fk.onDelete}"
      val onUpd = if (fk.onUpdate == "RESTRICT" || fk.onUpdate == "NO ACTION") ""
        else s" ON UPDATE ${fk.onUpdate}"
      s"  CONSTRAINT `${fk.name}` FOREIGN KEY " +
        s"(${fk.childCols.map(c => s"`$c`").mkString(",")}) REFERENCES " +
        s"`${fk.parent}` (${fk.parentCols.map(c => s"`$c`").mkString(",")})" +
        onDel + onUpd
    }
    val lines = fields.toSeq ++ pk ++ uks ++ keys ++ cks ++ fks
    // options tail, rendered the way the reference's catalog does
    // (rowexec/show.go): AUTO_INCREMENT only once the counter moved,
    // charset defaults to the server's utf8mb4/_0900_bin pair
    val aiOpt = tableDef(table).autoInc
      .flatMap(c => tableDef(table).autoIncCounter.map(n => (c, n)))
      .filter(_._2 > 1L)
      .map { case (c, n) =>
        // the displayed next value caps at the column type's max
        // (script_queries.go "int with auto_increment": tinyint at 127
        // stays AUTO_INCREMENT=127, not 128)
        val cl = c.toLowerCase
        val cap: Option[BigDecimal] =
          colDef(table, cl).unsigned.map(_._2)
            .orElse(if (colDef(table, cl).textKind.contains("mediumint"))
              Some(BigDecimal(8388607)) else None)
            .orElse(spark.table(table).schema.fields
              .find(_.name.equalsIgnoreCase(c))
              .flatMap(f => integralBounds(f.dataType))
              .map(b => BigDecimal(b._2)))
        val raw = tableDef(table).autoIncShown.getOrElse(BigDecimal(n))
        val shown = cap.filter(_ < raw)
          .map(_.toBigInt.toString).getOrElse(raw.toBigInt.toString)
        s" AUTO_INCREMENT=$shown"
      }.getOrElse("")
    val cs = tableDef(table).charset.getOrElse("utf8mb4")
    val coll = tableDef(table).collation.getOrElse(defaultCollation(cs))
    val cmt = tableDef(table).comment
      .map(c => s" COMMENT='${c.replace("'", "''")}'").getOrElse("")
    s"CREATE TABLE `$table` (\n${lines.mkString(",\n")}\n)" +
      s" ENGINE=InnoDB$aiOpt DEFAULT CHARSET=$cs COLLATE=$coll$cmt"
  }

  /** Backtick bare column identifiers in a rendered default expression
    * (dolt prints `(`pk` * 2)`; Catalyst's .sql leaves attrs bare).
    * Words followed by '(' are function names; keywords/literals stay. */
  private[graft] def backtickIdents(s: String): String = {
    val kw = Set("and", "or", "not", "case", "when", "then", "else", "end",
      "null", "true", "false", "interval", "as", "is", "in", "like", "div",
      "mod", "between", "current_timestamp", "current_date", "signed",
      "unsigned")
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (SqlRewrite.isQuote(c)) {
        val st = i
        i = SqlRewrite.literalEnd(s, i)
        sb.append(s.substring(st, i))
      } else if (c.isLetter || c == '_') {
        val st = i
        while (i < s.length &&
               (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_')) i += 1
        val w = s.substring(st, i)
        var j = i
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        val isFn = j < s.length && s.charAt(j) == '('
        if (isFn || kw(w.toLowerCase)) sb.append(w)
        else sb.append('`').append(w).append('`')
      } else if (c == ',') {
        // dolt prints function arguments comma-tight: coalesce(`a`,10)
        sb.append(c); i += 1
        while (i < s.length && s.charAt(i) == ' ') i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** DEFAULT clause catalog rendering: literals quote ('100', 'abc'),
    * NULL stays bare, CURRENT_TIMESTAMP keeps its keyword form, any
    * other expression parenthesizes — matching the reference's
    * column-default display (create_table_queries.go "create table with
    * select preserves default": `j` int DEFAULT '100'). */
  private def renderDefault(d: String): String = {
    val t = d.trim
    if (t.equalsIgnoreCase("NULL")) "NULL"
    else if (t.matches("^-?\\d+(\\.\\d+)?$")) s"'$t'"
    else if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      s"'${t.substring(1, t.length - 1).replace("''", "'").replace("'", "''")}'"
    else if (t.matches("(?i)^(?:CURRENT_TIMESTAMP|NOW)\\s*(\\(\\s*\\d*\\s*\\))?$"))
      "CURRENT_TIMESTAMP"
    else if (t.startsWith("(") && t.endsWith(")")) {
      // the reference renders ONE outer paren pair; a parenthesized
      // bare literal stays single-wrapped (`default (1)` → DEFAULT (1),
      // not ((1)) — script_queries.go "enums with default values"),
      // while expression bodies keep their own inner parens
      val inner = t.substring(1, t.length - 1).trim
      val litBody = inner.matches("^-?\\d+(\\.\\d+)?$") ||
        (inner.length >= 2 && inner.startsWith("'") &&
          inner.endsWith("'") &&
          !inner.substring(1, inner.length - 1).contains("'"))
      // dolt normalizes `cast(now() as signed)` defaults to the
      // convert() spelling with NOW uppercased (script_queries.go
      // "preserve now()": DEFAULT (convert(NOW(6), signed)))
      val NowCast =
        ("""(?i)^cast\(\s*(?:now|current_timestamp)\s*\(\s*(\d*)\s*\)""" +
          """\s+as\s+(?:signed|bigint)\s*\)$""").r
      if (litBody) t
      else inner match {
        case NowCast(p) => s"(convert(NOW($p), signed))"
        case _ =>
          try "(" + backtickIdents(org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseExpression(t).sql) + ")"
          catch { case _: Exception => s"($t)" }
      }
    }
    else s"($t)"
  }

  /** MySQL column-type text for metadata surfaces: a declared ENUM/SET
    * vocabulary renders as enum('a','b') / set('a','b') (the reference's
    * SHOW CREATE TABLE / DESCRIBE shape — script_queries.go enum
    * blocks); everything else maps through the type table. */
  /** ` COLLATE <name>` when the column's declared collation differs
    * from the table collation; empty otherwise. SHOW CREATE TABLE and
    * DESCRIBE append it (info-schema COLUMN_TYPE stays bare). */
  private[graft] def collateSuffix(table: String, col: String): String =
    colDef(table, col).collation match {
      case Some(c) if !c.equalsIgnoreCase(
          tableDef(table).collation.getOrElse("utf8mb4_0900_bin")) =>
        s" COLLATE $c"
      case _ => ""
    }

  private[graft] def renderColumnType(table: String,
      f: org.apache.spark.sql.types.StructField): String =
    colDef(table, f.name).vocab match {
      case Some((isSet, vs)) =>
        (if (isSet) "set" else "enum") +
          vs.map(v => s"'${v.replace("'", "''")}'").mkString("(", ",", ")")
      case None =>
        // declared CHAR/VARCHAR length survives into the catalog render
        colDef(table, f.name).charLimit match {
          case Some(n)
              if f.dataType.isInstanceOf[org.apache.spark.sql.types.StringType] =>
            if (colDef(table, f.name).fixedChar) s"char($n)"
            else s"varchar($n)"
          // tinyint(1) is the ONE display width MySQL preserves
          // (create_table_queries.go "display width for numeric types")
          case _ if colDef(table, f.name).tinyint1 => "tinyint(1)"
          // declared UNSIGNED renders its MySQL type, not the widened
          // storage type (tinyint unsigned stores as smallint)
          case _ if colDef(table, f.name).unsigned.isDefined =>
            val hi = colDef(table, f.name).unsigned.get._2
            (hi.toString match {
              case "255" => "tinyint"
              case "65535" => "smallint"
              case "16777215" => "mediumint"
              case "4294967295" => "int"
              case _ => "bigint"
            }) + " unsigned"
          case _ if colDef(table, f.name).year => "year"
          case _ if colDef(table, f.name).bitWidth.isDefined =>
            s"bit(${colDef(table, f.name).bitWidth.get})"
          case _ if colDef(table, f.name).wideDec.isDefined =>
            val (p, s) = colDef(table, f.name).wideDec.get
            s"decimal($p,$s)"
          // declared JSON columns render their catalog type, not the
          // text storage type ("alter json column default")
          case _ if colDef(table, f.name).json => "json"
          case _ if colDef(table, f.name).textKind.isDefined =>
            colDef(table, f.name).textKind.get
          case _ =>
            colDef(table, f.name).vecDim match {
              case Some(n) if n > 0 => s"vector($n)"
              case _ =>
                colDef(table, f.name).timePrecision match {
                  case Some(p) if p > 0 => s"${mysqlType(f.dataType)}($p)"
                  case _ => mysqlType(f.dataType)
                }
            }
        }
    }

  /** EXPLAIN — formatted Catalyst plan. */
  def explain(sql: String): String =
    query(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}
