package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType}
import graft.SqlRewrite.{closingParen, indexOfTopLevelWord, scanTop,
  splitTopLevel}

/** MySQL DML/DDL text dispatch over the memory backend — the SQL-text
  * front door for the statements Spark SQL cannot run against temp views
  * (reference: sql/planbuilder/dml.go routes INSERT/UPDATE/DELETE,
  * ddl.go routes CREATE/DROP/TRUNCATE, set.go routes SET @var).
  *
  * Semantics over the analytic backend:
  *  - Every write form is rows in → one image → one check-then-write
  *    sequence; the forms differ only in the rows they feed in.
  *  - INSERT, REPLACE, LOAD DATA and ON DUPLICATE KEY UPDATE's new rows
  *    take one insert image (Engine.imageInsert: DEFAULT and
  *    AUTO_INCREMENT fill, each column's write conversion, generated
  *    columns, flags settled by Engine.settleWrite — strict mode's error
  *    or IGNORE / non-strict mode's coercion with a warning) and one
  *    check-then-write (Engine.checkInsert, IGNORE a mode of it); a
  *    column list null-fills the unmentioned columns like MySQL
  *    defaults. REPLACE INTO and LOAD DATA … REPLACE are one function
  *    (Engine.replaceRows): delete what the batch collides with on any
  *    key, then insert.
  *  - Every UPDATE form, and ON DUPLICATE KEY UPDATE's matched rows,
  *    build one row image (RowImage: assignments through the same
  *    write conversion, BEFORE UPDATE triggers, ON UPDATE stamps,
  *    generated columns) and run one check-then-write sequence
  *    (checkUpdate), IGNORE as a mode of it (reference
  *    sql/rowexec/update.go, which plan/update_join.go and
  *    rowexec/insert.go only feed rows). The UPDATE forms differ in the
  *    rows they feed in (UpdateRows): on a driver-held table
  *    (Engine.storedMatch) WHERE is evaluated once per stored row and
  *    only the matched rows are imaged and replaced in place; any other
  *    table is imaged whole as a frame, rows outside WHERE kept; ORDER BY
  *    … LIMIT feeds the ids of its ordered subset; UPDATE JOIN each
  *    target merged with its new values; ON DUPLICATE KEY UPDATE each
  *    existing row merged with the incoming row it duplicates.
  *  - DELETE keeps the rows where the predicate is not TRUE (MySQL 3VL:
  *    NULL keeps), on a driver-held table row by row.
  *  - Each returns MySQL's ok-packet shape as a 1-row `affected_rows`.
  *
  * All statement recognition is anchored, case-insensitive, and falls
  * through to the SELECT path on no match, so pure queries never pay it.
  */
object Dml {

  // Table-name pattern: optionally schema-qualified (`db`.`t`, db.t),
  // each part bare or backticked (reference sql/planbuilder/dml.go
  // resolves qualified DML targets against the catalog). Matches land in
  // ONE group; normName strips the ticks.
  private val TblPat =
    """((?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)(?:\.(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))?)"""
  private def re(pattern: String) = pattern.replace("<T>", TblPat).r

  /** `db`.`t` / db.`t` / t -> canonical db.t / t */
  private def normName(raw: String): String =
    raw.split('.').map(_.stripPrefix("`").stripSuffix("`")).mkString(".")

  /** canonical name -> safely quoted SQL (`db`.`t`) */
  private def tick(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")

  // NB: body must be separated from the table name by whitespace or a
  // column list — otherwise the name backtracks ("mytable SET…" would
  // split into name "my" + body "table SET…" since TABLE is a body form)
  private val Insert =
    re("""(?is)^\s*INSERT\s+(IGNORE\s+)?INTO\s+<T>\s*(\((?!\s*(?:SELECT|WITH)\b)[^)]*\))?(?:\s+|(?<=\)))\s*((?:\(\s*)?(?:SELECT|VALUES|WITH|TABLE)\b.*)$""")
  private val Replace =
    re("""(?is)^\s*REPLACE\s+INTO\s+<T>\s*(\([^)]*\))?(?:\s+|(?<=\)))\s*((?:SELECT|VALUES|WITH|TABLE)\b.*)$""")
  private val Update =
    re("""(?is)^\s*UPDATE\s+(IGNORE\s+)?<T>\s+SET\s+(.*)$""")
  // UPDATE <table-references with a JOIN> SET assigns [WHERE cond]
  // (reference sql/plan/update_join.go). The references group must
  // contain a JOIN before the first top-level SET, so a plain
  // `UPDATE t SET a = (SELECT … JOIN …)` still routes to Update.
  private val UpdateJoin =
    """(?is)^\s*UPDATE\s+(IGNORE\s+)?((?:(?!\bSET\b).)+?\bJOIN\b(?:(?!\bSET\b).)+?)\s+SET\s+(.*)$""".r
  private val Delete =
    re("""(?is)^\s*DELETE\s+FROM\s+<T>\s*(.*?)\s*$""")
  // INSERT INTO t SET a = x, b = y (MySQL's assignment form)
  private val InsertSet =
    re("""(?is)^\s*INSERT\s+(IGNORE\s+)?INTO\s+<T>\s+SET\s+(.*)$""")
  // REPLACE INTO t SET a = x, b = y (replace_queries.go SET forms)
  private val ReplaceSet =
    re("""(?is)^\s*REPLACE\s+INTO\s+<T>\s+SET\s+(.*)$""")
  // DELETE t1[, t2] FROM <joined sources> [WHERE …] (multi-table delete,
  // reference sql/plan/delete.go multi-target form)
  private val DeleteJoin =
    """(?is)^\s*DELETE\s+(?!FROM\b)((?:`?[A-Za-z_][A-Za-z0-9_]*`?\s*,\s*)*`?[A-Za-z_][A-Za-z0-9_]*`?)\s+FROM\s+(.*)$""".r
  // DELETE FROM t1[, t2] USING <joined sources> [WHERE …] — MySQL's
  // other multi-table spelling, same semantics (delete_queries.go:198)
  private val DeleteUsing =
    """(?is)^\s*DELETE\s+FROM\s+((?:`?[A-Za-z_][A-Za-z0-9_]*`?\s*,\s*)*`?[A-Za-z_][A-Za-z0-9_]*`?)\s+USING\s+(.*)$""".r
  private val CreateView =
    re("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?<T>\s*(\([^)]*\))?\s+AS\s+(.*)$""")
  private val ShowCreateView =
    """(?is)^\s*SHOW\s+CREATE\s+VIEW\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""".r
  private val CreateTableAs =
    re("""(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?<T>\s+AS\s+(.*)$""")
  // MySQL also allows CTAS without the AS keyword: CREATE TABLE t
  // SELECT ... (create_table_queries.go "create table with select")
  private val CreateTableSelect =
    re("""(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?<T>\s+(\(?\s*SELECT\b.*)$""")
  // CREATE TABLE t (col defs ...) [table options] — the form every MySQL
  // script opens with (reference sql/planbuilder/ddl.go buildCreateTable).
  // The column list is extracted with a paren-balanced, quote-aware scan
  // (not a greedy regex) so nested parens in the LAST item — CHECK
  // (a > (1)), DEFAULT (expr) — can't shift the closing paren.
  private object CreateTableDef {
    private val Head = re(
      """(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?<T>\s*\((.*)$""")
    private val TailOpts =
      """(?is)^(?:ENGINE|DEFAULT|CHARSET|CHARACTER|COLLATE|COMMENT|AUTO_INCREMENT)\b.*$""".r
    def unapply(sql: String)
        : Option[(String, String, Boolean, Boolean, String)] =
      sql match {
        case Head(temp, ine, name, rest) =>
          val close = closingParen(rest)
          if (close < 0) None
          else {
            val tail = rest.substring(close + 1).trim
            // empty, pure options, or options/[AS]-SELECT tails all
            // belong to this form (the SELECT variant merges defs with
            // a CTAS — see createDefsWithSelect)
            if (tail.isEmpty || TailOpts.matches(tail) ||
                """(?is)^(?:AS\s+)?\(?\s*SELECT\b.*$""".r.matches(tail))
              Some((name, rest.substring(0, close), ine != null,
                temp != null, tail))
            else None
          }
        case _ => None
      }
  }

  private val CreateTableLike =
    re("""(?is)^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?<T>\s+LIKE\s+<T>\s*$""")
  private val AlterTable =
    re("""(?is)^\s*ALTER\s+TABLE\s+<T>\s+(.*)$""")
  // CREATE TRIGGER name BEFORE|AFTER INSERT|UPDATE|DELETE ON t
  //   FOR EACH ROW <body>   (reference sql/plan/triggers.go)
  private val CreateTrigger =
    re("""(?is)^\s*CREATE\s+TRIGGER\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s+(BEFORE|AFTER)\s+(INSERT|UPDATE|DELETE)\s+ON\s+<T>\s+FOR\s+EACH\s+ROW\s+(.*)$""")
  private val CreateProcedure =
    re("""(?is)^\s*CREATE\s+PROCEDURE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*\(([^)]*)\)\s*(.*)$""")
  private val DropProcedure =
    re("""(?is)^\s*DROP\s+PROCEDURE\s+(IF\s+EXISTS\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""")
  private val CallProc =
    re("""(?is)^\s*CALL\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*(?:\((.*)\))?\s*;?\s*$""")
  private val DropTrigger =
    re("""(?is)^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""")
  // RENAME TABLE old TO new [, old2 TO new2 …] — processed LEFT TO
  // RIGHT like MySQL, so swap chains (a→tmp, b→a, tmp→b) work
  private val RenameTables =
    """(?is)^\s*RENAME\s+TABLES?\s+(.+?)\s*$""".r
  private val RenamePair =
    """(?is)^\s*(`?[A-Za-z_][A-Za-z0-9_]*`?)\s+TO\s+(`?[A-Za-z_][A-Za-z0-9_]*`?)\s*$""".r
  private val DropTv =
    re("""(?is)^\s*DROP\s+(?:(?:TEMPORARY\s+)?TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?<T>\s*$""")
  private val DropMulti =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+)?(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?((?:`?[A-Za-z0-9_.]+`?\s*,\s*)+`?[A-Za-z0-9_.]+`?)\s*$""".r
  private val Trunc =
    re("""(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?<T>\s*$""")
  private val SetVar =
    """(?is)^\s*SET\s+@([A-Za-z_][A-Za-z0-9_]*)\s*:?=\s*(.*?)\s*$""".r
  // general SET assignment list (not NAMES / CHARACTER SET); items are
  // user (@x) or system ([SESSION|GLOBAL] [@@[scope.]]name) assignments
  private val SetList =
    """(?is)^\s*SET\s+(?!NAMES\b|CHARACTER\s+SET\b)(.+?)\s*$""".r
  private val SetItem =
    """(?is)^\s*((?:(?:SESSION|GLOBAL)\s+)?@?@?[A-Za-z_][A-Za-z0-9_.]*)\s*:?=\s*(.+?)\s*$""".r
  // PREPARE name FROM 'sql' / EXECUTE name [USING @a, ...] / DEALLOCATE
  // (reference sql/plan/prepare.go:181 — the SQL-text prepared surface;
  // Engine.queryPrepared is the API twin)
  // single- OR double-quoted statement text (script_queries.go
  // last_insert_uuid block: prepare stmt1 from "insert into …")
  private val PrepareStmt =
    """(?is)^\s*PREPARE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s+FROM\s+('(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")\s*$""".r
  private val PrepareFromVar =
    """(?is)^\s*PREPARE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s+FROM\s+@([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
  private val ExecuteStmt =
    """(?is)^\s*EXECUTE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?(?:\s+USING\s+(.+?))?\s*$""".r
  private val DeallocStmt =
    """(?is)^\s*(?:DEALLOCATE|DROP)\s+PREPARE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""".r

  // EXPLAIN [ANALYZE] [FORMAT=TREE|JSON] <select> — the reference's
  // plan display (sql/rowexec/show.go DESCRIBE QUERY / EXPLAIN
  // FORMAT=TREE); here the displayed plan is Spark's, the honest answer
  // for an engine whose physical planning IS Catalyst (SURVEY §4.4)
  /** Reference-style EXPLAIN PLAN lines (plan.go DescribeString) for
    * the deterministic shapes; Spark's formatted plan otherwise. */
  private def doltPlanLines(e: Engine, df: org.apache.spark.sql.DataFrame,
                            inner: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    def litOnly(p: LogicalPlan): Option[Seq[String]] = p match {
      case Project(exprs, child) if litOnly0(child) =>
        val cols = exprs.map {
          case Alias(Literal(v, _), _) => String.valueOf(v)
          case a: Alias => a.name
          case o => o.sql
        }
        Some(cols)
      case _ => None
    }
    def litOnly0(p: LogicalPlan): Boolean = p match {
      case _: OneRowRelation => true
      // the dual table a FROM-less SELECT reads (Engine.mysqlTrimSemantics)
      case l: LocalRelation => l.output.isEmpty && l.data.size == 1
      case Project(_, c) => litOnly0(c)
      case SubqueryAlias(_, c) => litOnly0(c)
      case _ => false
    }
    val analyzed = df.queryExecution.analyzed
    // count(*) over a bare table — the reference's table_count shortcut
    // — PROVEN from the analyzed plan: a global Aggregate whose single
    // output is count(1) over a bare relation chain (no filter/project)
    def countStarTable(p: LogicalPlan): Option[String] = p match {
      case Aggregate(groups, aggs, child, _) if groups.isEmpty &&
          aggs.length == 1 =>
        val isCountStar = aggs.head.collectFirst {
          case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
              if c.children.forall(_.isInstanceOf[Literal]) => c
        }.isDefined
        // a bare relation chain: alias/view wrappers only, ending in a
        // leaf (any Project/Filter would falsify the table_count claim)
        def bareChain(q: LogicalPlan): Boolean = q match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
          case SubqueryAlias(_, c) => bareChain(c)
          case v: View => bareChain(v.child)
          case _ => false
        }
        def bareName(q: LogicalPlan): Option[String] = q match {
          case SubqueryAlias(id, c) if bareChain(c) => Some(id.name)
          case _ => None
        }
        if (isCountStar) bareName(child) else None
      case Project(_, c) => countStarTable(c)
      case _ => None
    }
    inner match {
      case _ if countStarTable(analyzed).isDefined =>
        val t = countStarTable(analyzed).get
        Seq("Project",
          " ├─ columns: [count(1)]",
          " └─ Project",
          s"     ├─ columns: [$t.COUNT(1) as COUNT(1)]",
          s"     └─ table_count($t) as COUNT(1)")
      case _ => litOnly(analyzed) match {
        case Some(cols) =>
          Seq("Project",
            s" ├─ columns: [${cols.mkString(", ")}]",
            " └─ Table",
            "     └─ name: ")
        case None =>
          Seq(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
  }

  private val ExplainStmt =
    """(?is)^\s*(?:EXPLAIN|DESCRIBE|DESC)\s+(PLAN\s+)?(ANALYZE\s+)?(?:FORMAT\s*=\s*(TREE|JSON)\s+)?((?:SELECT|WITH|TABLE)\b.*)$""".r

  private val SetSqlMode =
    """(?is)^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?:@@(?:session\.|global\.)?)?sql_mode\s*:?=\s*(.+?)\s*$""".r
  // DESCRIBE t / DESC t — MySQL column shape (rowexec/show.go DESCRIBE)
  private val DescribeTbl =
    """(?is)^\s*(?:DESCRIBE|DESC)\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""".r
  // SET time_zone must dispatch before the SET noop (whose @@\S+ arm
  // would swallow SET @@time_zone = …)
  private val SetTz =
    """(?is)^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?:@@(?:session\.|global\.)?)?time_zone\s*:?=\s*(.+?)\s*$""".r
  private val SetNoop =
    """(?is)^\s*SET\s+(?:NAMES|SESSION|GLOBAL|CHARACTER\s+SET|sql_mode|autocommit|@@\S+)\b.*$""".r
  private val ShowVariables =
    """(?is)^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES(?:\s+LIKE\s+'([^']*)'|\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val ShowStatus =
    """(?is)^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?STATUS(?:\s+LIKE\s+'([^']*)'|\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val ShowDatabases =
    """(?is)^\s*SHOW\s+(?:DATABASES|SCHEMAS)(?:\s+LIKE\s+'([^']*)'|\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val FlushStmt =
    """(?is)^\s*FLUSH\s+(?:NO_WRITE_TO_BINLOG\s+|LOCAL\s+)?(?:BINARY\s+LOGS|ENGINE\s+LOGS|LOGS|STATUS|PRIVILEGES|TABLES)\s*;?\s*$""".r
  private val ShowProcesslist =
    """(?is)^\s*SHOW\s+(?:FULL\s+)?PROCESSLIST\s*$""".r
  // SHOW WARNINGS/ERRORS (queries.go:5181 `SHOW WARNINGS LIMIT 0`;
  // session.go:680 Warn): reads the session diagnostics area the write
  // paths feed. SHOW WARNINGS lists every level; SHOW ERRORS only
  // Error-level entries. LIMIT [off,]n applies to the listed rows.
  // a trailing /* comment */ is tolerated (dbddl_queries "SHOW WARNINGS
  // /* 1 */" disambiguation comments)
  private val ShowWarnings =
    """(?is)^\s*SHOW\s+(WARNINGS|ERRORS)(?:\s+LIMIT\s+(?:(\d+)\s*,\s*)?(\d+))?\s*(?:/\*.*?\*/\s*)?$""".r
  private val ShowCountWarnings =
    """(?is)^\s*SHOW\s+COUNT\(\*\)\s+(WARNINGS|ERRORS)\s*$""".r
  // client-probe SHOW surface for descoped features (triggers, events,
  // stored routines, binlogs — SURVEY §2.12): honest empties with
  // MySQL's column shapes, so `mysql` CLI / driver handshakes that
  // enumerate them see a clean catalog instead of a parse error.
  private val ShowTriggers =
    """(?is)^\s*SHOW\s+TRIGGERS(?:\s+(?:FROM|IN)\s+\S+)?(?:\s+LIKE\s+'[^']*'|\s+WHERE\s+.*)?\s*$""".r
  private val ShowEvents =
    """(?is)^\s*SHOW\s+EVENTS(?:\s+(?:FROM|IN)\s+\S+)?(?:\s+LIKE\s+'[^']*')?\s*$""".r
  private val ShowRoutineStatus =
    """(?is)^\s*SHOW\s+(?:PROCEDURE|FUNCTION)\s+STATUS(?:\s+LIKE\s+'[^']*')?(?:\s+WHERE\s+.*)?\s*$""".r
  private val ShowEngines =
    """(?is)^\s*SHOW\s+(?:STORAGE\s+)?ENGINES\s*$""".r
  private val ShowOpenTables =
    """(?is)^\s*SHOW\s+OPEN\s+TABLES(?:\s+(?:FROM|IN)\s+\S+)?(?:\s+LIKE\s+'[^']*')?\s*$""".r
  private val ShowBinaryLogs =
    """(?is)^\s*SHOW\s+(?:BINARY|MASTER)\s+LOGS\s*$""".r
  private val ShowPlugins =
    """(?is)^\s*SHOW\s+PLUGINS\s*$""".r
  // SHOW [FULL] TABLES [FROM|IN db] [LIKE 'pat' | WHERE expr] — MySQL's
  // single-column Tables_in_<db> shape (information_schema_queries.go:182)
  private val ShowTbls =
    """(?is)^\s*SHOW\s+(FULL\s+)?TABLES(?:\s+(?:FROM|IN)\s+`?([A-Za-z_][A-Za-z0-9_]*)`?)?(?:\s+LIKE\s+'([^']*)')?(?:\s+WHERE\s+(.+?))?\s*$""".r
  private val ShowColumns =
    """(?is)^\s*SHOW\s+(FULL\s+)?(?:COLUMNS|FIELDS)\s+(?:FROM|IN)\s+(`?[A-Za-z_][A-Za-z0-9_]*`?(?:\.`?[A-Za-z_][A-Za-z0-9_]*`?)?)(?:\s+(?:FROM|IN)\s+`?([A-Za-z_][A-Za-z0-9_]*)`?)?(?:\s+LIKE\s+'([^']*)')?(?:\s+WHERE\s+(.+?))?\s*$""".r
  // `SHOW INDEX FROM t`, `FROM db.t`, and MySQL's two-FROM form
  // `FROM t FROM db` (information_schema_queries.go:376-384)
  private val ShowIndexes =
    ("""(?is)^\s*SHOW\s+(?:INDEX|INDEXES|KEYS)\s+FROM\s+""" +
     """`?([A-Za-z_][A-Za-z0-9_]*)`?(?:\s*\.\s*`?([A-Za-z_][A-Za-z0-9_]*)`?)?""" +
     """(?:\s+FROM\s+`?([A-Za-z_][A-Za-z0-9_]*)`?)?\s*;?\s*$""").r
  private val ShowCreate =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*$""".r
  private val ShowCreateDb =
    """(?is)^\s*SHOW\s+CREATE\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\s*;?\s*$""".r
  private val ShowCollation =
    """(?is)^\s*SHOW\s+COLLATION(?:\s+LIKE\s+'([^']*)'|\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val ShowGrants =
    """(?is)^\s*SHOW\s+GRANTS(?:\s+FOR\s+\S+)?\s*$""".r
  private val ShowTableStatus =
    """(?is)^\s*SHOW\s+TABLE\s+STATUS(?:\s+(?:FROM|IN)\s+`?([A-Za-z0-9_]+)`?)?(?:\s+LIKE\s+'([^']*)'|\s+WHERE\s+(.+?))?\s*$""".r
  // standalone index DDL (reference sql/planbuilder/ddl.go buildCreateIndex)
  private val CreateIdxStmt =
    re("""(?is)^\s*CREATE\s+(UNIQUE\s+)?(FULLTEXT\s+|SPATIAL\s+|VECTOR\s+)?INDEX\s+`?([A-Za-z0-9_]+)`?\s+(?:USING\s+(?:HASH|BTREE)\s+)?ON\s+<T>\s*\((.*)\)\s*(?:USING\s+(?:HASH|BTREE))?\s*(?:(?:IN)?VISIBLE)?\s*$""")
  private val DropIdxStmt =
    re("""(?is)^\s*DROP\s+INDEX\s+`?([A-Za-z0-9_]+)`?\s+ON\s+<T>\s*$""")
  private val AnalyzeStmt =
    re("""(?is)^\s*ANALYZE\s+(?:NO_WRITE_TO_BINLOG\s+|LOCAL\s+)?TABLE\s+<T>\s*$""")
  // ANALYZE TABLE t UPDATE HISTOGRAM ON (cols) [USING DATA 'json'] /
  // DROP HISTOGRAM ON (cols) — reference stats_queries.go
  private val AnalyzeHistStmt =
    re("""(?is)^\s*ANALYZE\s+TABLE\s+<T>\s+(UPDATE|DROP)\s+HISTOGRAM\s+ON\s+\(?\s*([A-Za-z0-9_,\s`]+?)\s*\)?\s*(?:USING\s+DATA\s+'((?:[^'\\]|\\.|'')*)')?\s*$""")
  private val ShowCharset =
    """(?is)^\s*SHOW\s+(?:CHARACTER\s+SET|CHARSET)(?:\s+LIKE\s+'([^']*)')?\s*$""".r
  // LOAD DATA INFILE 'path' INTO TABLE t [clauses] (reference
  // sql/plan/load_data.go:25 — FIELDS/LINES/IGNORE clause grammar)
  private val LoadData =
    re("""(?is)^\s*LOAD\s+DATA\s+(?:LOW_PRIORITY\s+|CONCURRENT\s+)?(?:LOCAL\s+)?INFILE\s+'((?:[^'\\]|\\.)*)'\s+(REPLACE\s+|IGNORE\s+)?INTO\s+TABLE\s+<T>\s*(.*)$""")
  // clause tail, in MySQL's fixed order: [CHARACTER SET cs]
  // [FIELDS|COLUMNS [TERMINATED BY 's'] [[OPTIONALLY] ENCLOSED BY 'c']
  // [ESCAPED BY 'c']] [LINES [STARTING BY 's'] [TERMINATED BY 's']]
  // [IGNORE n LINES|ROWS] [(col, ...)]
  private val LoadClauses =
    ("""(?is)^(?:CHARACTER\s+SET\s+\S+\s*)?""" +
     """(?:(?:FIELDS|COLUMNS)(?:\s+TERMINATED\s+BY\s+'((?:[^'\\]|\\.)*)')?""" +
     """(?:\s+OPTIONALLY)?(?:\s+ENCLOSED\s+BY\s+'((?:[^'\\]|\\.)*)')?""" +
     """(?:\s+ESCAPED\s+BY\s+'((?:[^'\\]|\\.)*)')?\s*)?""" +
     """(?:LINES(?:\s+STARTING\s+BY\s+'((?:[^'\\]|\\.)*)')?""" +
     """(?:\s+TERMINATED\s+BY\s+'((?:[^'\\]|\\.)*)')?\s*)?""" +
     """(?:IGNORE\s+(\d+)\s+(?:LINES|ROWS)\s*)?""" +
     """(?:\(([^)]*)\)\s*)?(?:SET\s+(.+?)\s*)?$""").r

  /** MySQL escape sequences inside LOAD DATA clause literals. */
  private def unescape(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => out.append('\t')
          case 'n' => out.append('\n')
          case 'r' => out.append('\r')
          case other => out.append(other)
        }
        i += 2
      } else { out.append(c); i += 1 }
    }
    out.result()
  }

  def dispatch(e: Engine, sql0: String): Option[DataFrame] = {
    val sql = sql0.replaceAll("[;\\s]+$", "")
    cteDml(e, sql).orElse(dispatchTrimmed(e, sql))
  }

  /** `WITH [RECURSIVE] ctes… DELETE/UPDATE …` — MySQL allows CTEs ahead
    * of DML (delete_queries.go / update_queries.go `with …` cases). Each
    * CTE materializes through the engine's own WITH+SELECT path
    * (recursive ones included) into a statement-scoped temp view that
    * shadows any same-named table — evaluated against statement-start
    * state, like MySQL — then the bare DML dispatches normally. Prior
    * views are restored afterward. A `WITH … SELECT … FOR UPDATE` never
    * reaches the DML dispatch (its tail fails the DML patterns), so the
    * orElse falls through to the query path with views restored. */
  private def cteDml(e: Engine, sql: String): Option[DataFrame] = {
    if (!sql.trim.toUpperCase.startsWith("WITH")) return None
    val idxs = Seq("DELETE", "UPDATE", "INSERT", "REPLACE")
      .map(k => indexOfTopLevelWord(sql, k)).filter(_ >= 0)
    if (idxs.isEmpty) return None
    val idx = idxs.min
    val cteText = sql.substring(0, idx).trim
    val dmlText = sql.substring(idx)
    val listText =
      cteText.replaceFirst("(?is)^\\s*WITH\\s+(RECURSIVE\\s+)?", "")
    val names = splitTop(listText).map { item =>
      """(?is)^\s*`?([A-Za-z_][A-Za-z0-9_]*)`?""".r.findFirstMatchIn(item)
        .map(_.group(1))
        .getOrElse(throw new IllegalArgumentException(s"malformed CTE: $item"))
    }
    // MySQL forbids targeting a CTE (the write would otherwise vanish
    // with the statement-scoped view)
    """(?is)^(?:DELETE\s+FROM|UPDATE|INSERT\s+(?:IGNORE\s+)?INTO|REPLACE\s+INTO)\s+`?([A-Za-z_][A-Za-z0-9_]*)`?""".r
      .findFirstMatchIn(dmlText).foreach { m =>
        val target = m.group(1)
        if (names.exists(_.equalsIgnoreCase(target)))
          throw new IllegalArgumentException(
            s"The target table $target of the " +
            s"${dmlText.trim.split("\\s+")(0).toUpperCase} is not updatable")
      }
    val saved = names.map(n =>
      n -> scala.util.Try(e.spark.table(n)).toOption)
    try {
      names.foreach { n =>
        e.query(s"$cteText SELECT * FROM `$n`").createOrReplaceTempView(n)
      }
      dispatchTrimmed(e, dmlText)
    } finally saved.foreach {
      case (n, Some(df)) => df.createOrReplaceTempView(n)
      case (n, None) => e.spark.catalog.dropTempView(n)
    }
  }

  // database DDL + USE (reference sql/plan/dbddl.go, dbddl_queries):
  // existence errors 1007/1008/1049, IF (NOT) EXISTS Notes, display-case
  // names, charset/collation clause 1235 warnings
  private val CreateDbStmt =
    """(?is)^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?`?([A-Za-z_$][A-Za-z0-9_$]*)`?\s*(.*?)\s*;?\s*$""".r
  private val DropDbStmt =
    """(?is)^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?`?([A-Za-z_$][A-Za-z0-9_$]*)`?\s*;?\s*$""".r
  private val UseStmt =
    """(?is)^\s*USE\s+`?([A-Za-z_$][A-Za-z0-9_$]*)`?\s*;?\s*$""".r

  private def dispatchTrimmed(e: Engine, sql: String): Option[DataFrame] = sql match {
    case CreateDbStmt(ifNot, name, tail) =>
      Some(ok(e, e.createDatabaseStmt(name, ifNot != null, tail)))
    case DropDbStmt(ifEx, name) =>
      Some(ok(e, e.dropDatabaseStmt(name, ifEx != null)))
    case UseStmt(name) =>
      e.useStmt(name)
      Some(e.spark.emptyDataFrame)
    // INSERT ... RETURNING <exprs> (MariaDB-style, supported by the
    // reference — insert_queries.go "insert...returning... statements"):
    // run the insert, then project the expressions over the rows this
    // statement added (post defaults / auto-increment / coercion).
    case s0 if """(?is)^\s*INSERT\b""".r.findFirstIn(s0).isDefined &&
        indexOfTopLevelWord(s0, "RETURNING") >= 0 =>
      val at = indexOfTopLevelWord(s0, "RETURNING")
      val stmt = s0.substring(0, at).trim
      val exprsTxt = s0.substring(at + "RETURNING".length).trim
      val table = stmt match {
        case Insert(_, tr, _, _) => e.canonicalTable(normName(tr))
        case InsertSet(_, tr, _) => e.canonicalTable(normName(tr))
        case _ => throw new IllegalArgumentException(
          s"malformed INSERT ... RETURNING: $s0")
      }
      val before = e.spark.table(table).localCheckpoint()
      dispatchTrimmed(e, stmt)
      // multiset difference = exactly the inserted rows, even when they
      // equal pre-existing rows
      val inserted = e.spark.table(table).exceptAll(before)
      val tmp = s"__returning_${math.abs(s0.hashCode)}"
      inserted.createOrReplaceTempView(tmp)
      try Some(e.query(s"SELECT $exprsTxt FROM `$tmp`").localCheckpoint())
      finally e.spark.catalog.dropTempView(tmp)

    case Insert(ignoreKw, tableRaw, colList, body0) =>
      val table = e.canonicalTable(normName(tableRaw))
      val hasList = colList != null && colList.trim
        .stripPrefix("(").stripSuffix(")").trim.nonEmpty
      val (bodyRaw, odku) = splitOnDuplicate(body0)
      val body = expandEmptyTuples(e, table, hasList, bodyRaw)
      odku match {
        case None =>
          val df0 = insertSource(e, table, colList, hasList, body)
          // IGNORE: skip (not error on) duplicate-key / constraint rows.
          // A scalar subquery returning >1 row under IGNORE inserts
          // nothing and warns 1242 instead of erroring
          // (insert_queries.go ERSubqueryNo1Row block; MySQL converts
          // the error per evaluated row — this engine evaluates the
          // source as one distributed plan, so one statement-level
          // warning stands in for the per-row count).
          val n =
            try e.insertDf(table, df0, fillMissing = hasList,
              ignoreDups = ignoreKw != null)
            catch {
              case ex: Throwable if ignoreKw != null &&
                  (ex.getMessage != null &&
                    (ex.getMessage.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS") ||
                     ex.getMessage.contains("more than one row"))) =>
                e.warn(1242, "Subquery returns more than 1 row")
                0L
            }
          Some(ok(e, n))
        case Some(assignText) =>
          // MySQL 8.0.19 row alias: VALUES (…) AS alias[(cols)] names
          // the INCOMING row inside the ODKU assignments
          val RowAlias =
            """(?is)^(.*\))\s+AS\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*(?:\(([^)]*)\))?\s*$""".r
          // SELECT sources: a trailing derived-table alias names the
          // incoming row inside the assignments too (insert_queries.go
          // issue 6675: `select * from (...) dt(a,b) ... ON DUPLICATE
          // KEY UPDATE x=dt.b+1`); its columns map positionally onto
          // the INSERT column list like a VALUES row alias
          val TrailAlias =
            """(?is)^.*\)\s*(?:AS\s+)?`?([A-Za-z_][A-Za-z0-9_]*)`?\s*(?:\(([^)]*)\))?\s*$""".r
          val aliasStopWords = Set("desc", "asc", "where", "limit", "by",
            "from", "dual", "on", "using", "join")
          val (bodyStripped, aliasOpt) = body.trim match {
            case RowAlias(b, name, cols)
                if body.trim.toUpperCase.startsWith("VALUES") =>
              (b, Some((name, Option(cols).map(_.split(",")
                .map(c => stripTick(c.trim)).toSeq))))
            case bt if """(?is)^\s*\(?\s*(?:SELECT|WITH)\b""".r
                .findFirstIn(bt).isDefined =>
              bt match {
                case TrailAlias(name, cols)
                    if !aliasStopWords.contains(name.toLowerCase) =>
                  val colNames = Option(cols)
                    .map(_.split(",").map(c => stripTick(c.trim)).toSeq)
                    .orElse(scala.util.Try(e.query(bt).columns.toSeq).toOption)
                  (bt, Some((name, colNames)))
                case _ =>
                  // plain `select ... from <table|cte>` source: the
                  // trailing source name qualifies incoming columns in
                  // the ODKU (`insert into a (select * from b) ...
                  // update a.i = b.j + 100`); a join source with no
                  // single tail maps ANY non-target qualifier over the
                  // source's output columns positionally (`... from b
                  // join c ... update a.j = b.x + c.y + 100`)
                  val colNames =
                    scala.util.Try(e.query(bt).columns.toSeq).toOption
                  """(?is)\bFROM\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\s*\)?\s*$""".r
                    .findFirstMatchIn(bt) match {
                    case Some(m)
                        // a self-referencing source would rewrite the
                        // target-table qualifiers on the lhs too
                        if !m.group(1).equalsIgnoreCase(
                          table.split('.').last) =>
                      (bt, Some((m.group(1), colNames)))
                    case Some(_) => (bt, None)
                    case None if colNames.isDefined =>
                      (bt, Some((null, colNames)))
                    case None => (bt, None)
                  }
              }
            case _ => (body, None)
          }
          val insertCols =
            if (hasList) colList.trim.stripPrefix("(").stripSuffix(")")
              .split(",").map(c => stripTick(c.trim)).toSeq
            else Seq.empty[String]
          // a VALUES row alias column list must match the value count
          // (insert_queries.go "incorrect row alias":
          // `values (1) as new(c, d)` is ErrColumnCountMismatch)
          if (body.trim.toUpperCase.startsWith("VALUES"))
            aliasOpt.flatMap(_._2).foreach { cs =>
              val expect =
                if (hasList) insertCols.length
                else e.spark.table(table).columns.length
              if (cs.length != expect)
                throw new IllegalArgumentException(
                  s"The used row alias column list does not match the " +
                  s"column count (MySQL error 1136)")
            }
          val isSelectSrc = """(?is)^\s*\(?\s*(?:SELECT|WITH)\b""".r
            .findFirstIn(body.trim).isDefined
          // visible FROM-clause relation names of the source select: an
          // alias hides its base name (`from b as t` exposes only t) —
          // the ODKU rewriter may map only these, so `b.j` stays put and
          // errors (insert_queries.go "aliased subquery")
          val srcNames: Seq[String] =
            if (!isSelectSrc) Seq.empty
            else try {
              import org.apache.spark.sql.catalyst.plans.logical._
              import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
              def visible(p: LogicalPlan): Seq[String] = p match {
                case a: SubqueryAlias => Seq(a.alias)
                case r: UnresolvedRelation => Seq(r.multipartIdentifier.last)
                case other => other.children.flatMap(visible)
              }
              val bt = body.trim
              val inner =
                if (bt.startsWith("(") && bt.endsWith(")"))
                  bt.substring(1, bt.length - 1)
                else bt
              visible(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parsePlan(inner))
            } catch { case _: Exception => Seq.empty }
          Some(upsert(e, table,
            insertSource(e, table, colList, hasList, bodyStripped),
            assignText, aliasOpt, insertCols, ignore = ignoreKw != null,
            selectSource = isSelectSrc, sourceNames = srcNames))
      }

    case Replace(tableRaw, colList, body) =>
      // REPLACE INTO: delete the rows each incoming row collides with,
      // then insert it (Engine.replaceRows, shared with LOAD DATA …
      // REPLACE); affected counts both
      val table = normName(tableRaw)
      val hasList = colList != null && colList.trim
        .stripPrefix("(").stripSuffix(")").trim.nonEmpty
      if (e.tableDef(table).keys.isEmpty)
        throw new IllegalArgumentException(
          s"REPLACE INTO needs a declared key on '$table' (Engine.declareKey)")
      Some(ok(e, e.replaceRows(table, insertSource(e, table, colList, hasList, body),
        fillMissing = hasList)))

    case InsertSet(ignoreKw, tableRaw, assignText) =>
      val table = normName(tableRaw)
      // rewrite to the column-list VALUES form and re-dispatch
      val pairs = splitTop(assignText).map { a =>
        val eq = topLevelIndexOf(a, '=')
        require(eq > 0, s"malformed INSERT SET clause: $a")
        (a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`"),
          a.substring(eq + 1).trim)
      }
      val ig = if (ignoreKw != null) "IGNORE " else ""
      dispatchTrimmed(e,
        s"INSERT ${ig}INTO ${tick(table)} (${pairs.map(_._1).mkString(", ")}) " +
          s"VALUES (${pairs.map(_._2).mkString(", ")})")

    case ReplaceSet(tableRaw, assignText) =>
      // same rewrite as InsertSet: REPLACE's assignment form is sugar for
      // the column-list VALUES form (replace_queries.go SET cases; a
      // duplicate column in the list errors like MySQL 1110)
      val table = normName(tableRaw)
      val pairs = splitTop(assignText).map { a =>
        val eq = topLevelIndexOf(a, '=')
        require(eq > 0, s"malformed REPLACE SET clause: $a")
        (a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`"),
          a.substring(eq + 1).trim)
      }
      dispatchTrimmed(e,
        s"REPLACE INTO ${tick(table)} (${pairs.map(_._1).mkString(", ")}) " +
          s"VALUES (${pairs.map(_._2).mkString(", ")})")

    case UpdateJoin(ignoreKw, refsText, rest) =>
      Some(updateJoin(e, refsText, rest, ignoreKw != null))

    case DeleteJoin(targetsText, rest) =>
      Some(deleteJoin(e, targetsText, rest))

    case DeleteUsing(targetsText, rest) =>
      Some(deleteJoin(e, targetsText, rest))

    case Update(ignoreKw, tableRaw, rest) =>
      val ignore = ignoreKw != null
      val table = normName(tableRaw)
      val (head, tail) = splitOrderLimit(rest)
      val (assignText, whereOpt) = splitWhere(head)
      val t = e.spark.table(table)
      val actual = t.columns.map(c => c.toLowerCase -> c).toMap
      val assigns = splitTop(assignText).map { a =>
        val eq = topLevelIndexOf(a, '=')
        require(eq > 0, s"malformed SET clause: $a")
        val name = a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`")
        val resolved = actual.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(
            s"Unknown column '$name' in 'field list'"))
        resolved -> a.substring(eq + 1).trim
      }
      val image = new RowImage(e, table, assigns, ignore)
      val gate = whereOpt.map(cond =>
        coalesce(expr(cond).cast("boolean"), lit(false)))
      // the rows fed in: a driver-held table's matched rows when the
      // image folds over them, otherwise the whole table as a frame with
      // `gate` (WHERE) or the ids ORDER BY … LIMIT picks selecting rows
      val (stored, frame) = tail match {
        case None =>
          (e.storedMatch(table, gate), () => {
            val rows = t.withColumn("__rid__", monotonically_increasing_id())
            frameRows(e, table, rows, gate,
              gate.fold(t.count())(g => t.filter(g).count()))
          })
        case Some(orderLimit) =>
          // a driver-held table's rows carry their positions; any other
          // table's row ids are pinned, as each action re-evaluates
          // monotonically_increasing_id
          val all = e.storedMatch(table, None)
          val rows = all.fold(t.withColumn("__rid__",
            monotonically_increasing_id()).localCheckpoint())(e.matchedFrame(table, _))
          val ids = orderedIds(e, table, rows, gate, orderLimit)
          (all.map(m => m.copy(matched = ids.sorted.map(_.toInt).toIndexedSeq)),
            () => frameRows(e, table, rows,
              Some(col("__rid__").isin(ids.toIndexedSeq: _*)), ids.length.toLong))
      }
      val (rows, img) = stored.map(storedRows(e, table, _))
        .map(r => (r, image(r.before, None)))
        .filter { case (_, img) => !img.queryExecution.analyzed.exists(
          _.expressions.exists(x => !graft.plans.FoldLocalRows.evaluable(x))) }
        .getOrElse { val r = frame(); (r, image(r.before, r.gate)) }
      checkUpdate(e, table, image, rows, img)._4()
      // UPDATE, IGNORE too, reports the rows it matched (dml_iters.go:761)
      e.foundRowsSet(rows.matched)
      Some(ok(e, rows.matched))

    case Delete(tableRaw, rest0) =>
      val table = normName(tableRaw)
      val t = e.spark.table(table)
      val (head, tail) = splitOrderLimit(Option(rest0).getOrElse(""))
      val whereOpt =
        if (head.trim.isEmpty) None
        else {
          val h = head.trim
          require(h.toUpperCase.startsWith("WHERE"),
            s"malformed DELETE clause: $h")
          Some(h.substring(5))
        }
      // `storeKept` writes the kept rows when FK enforcement leaves
      // them as they are
      def applyDelete(kept: DataFrame, affected: Long,
                      storeKept: Option[() => Unit] = None): Option[DataFrame] = {
        // FK enforcement against the surviving rows: RESTRICT errors,
        // CASCADE/SET NULL walk the child graph (foreign_key_queries.go).
        // A self-referential FK can shrink the survivor set further, so
        // the table is replaced with the RETURNED frame.
        val finalKept = e.enforceParentDelete(table, kept)
        storeKept.filter(_ => finalKept eq kept) match {
          case Some(store) => store()
          case None => e.replaceTable(table, finalKept, bumpDepth = true)
        }
        Some(ok(e, affected))
      }
      tail match {
        case Some(orderLimit) =>
          val whereClause = whereOpt.map(w => s" WHERE $w").getOrElse("")
          val subset = e.query(s"SELECT * FROM ${tick(table)}$whereClause $orderLimit")
          applyDelete(t.exceptAll(subset), subset.count())
        case None =>
          val pred = whereOpt.map(cond =>
            coalesce(expr(cond).cast("boolean"), lit(false)))
          // a driver-held table keeps its unmatched rows, in order
          e.storedMatch(table, pred) match {
            case Some(m) =>
              val kept = m.unmatched
              applyDelete(e.storedFrame(table, kept), m.matched.size.toLong,
                Some(() => e.storeGeneration(table, kept)))
            case None => pred match {
              case Some(p) => applyDelete(t.filter(!p), t.filter(p).count())
              case None => applyDelete(t.limit(0), t.count())
            }
          }
      }

    case CreateView(orReplace, ifNotExists, name, colList, body) =>
      // optional explicit output column list: CREATE VIEW v (a, b) AS ...
      val cols = Option(colList).map(_.trim.stripPrefix("(").stripSuffix(")")
        .split(",").map(c => stripTick(c.trim)).toSeq).getOrElse(Seq.empty)
      val n = normName(name)
      // MySQL existence semantics (view_queries.go:26 "existing views"):
      // IF NOT EXISTS over an existing view OR table is a silent no-op;
      // a plain CREATE VIEW over an existing object is error 1050.
      val exists = e.created(n)
      if (exists && orReplace == null) {
        if (ifNotExists != null) Some(ok(e, 0L))
        else throw new IllegalArgumentException(s"Table '$n' already exists (MySQL 1050)")
      } else {
        e.createView(n, body, cols); Some(ok(e, 0L))
      }

    case ShowCreateView(name) =>
      val sqlText = e.viewDefs.getOrElse(name,
        throw new IllegalArgumentException(s"Table '$name' doesn't exist"))
      val s = e.spark
      import s.implicits._
      // charset/collation columns match the reference's fixed rendering
      // (view_queries.go:584 expects utf8mb4 / utf8mb4_0900_bin)
      Some(Seq((name, s"CREATE VIEW `$name` AS $sqlText",
        "utf8mb4", "utf8mb4_0900_bin"))
        .toDF("View", "Create View", "character_set_client",
          "collation_connection"))

    case CreateTableAs(temp, ine, name, body) =>
      createTable(e, normName(name), ine != null, temp != null)(
        e.ctas(normName(name), body))

    case CreateTableSelect(temp, ine, name, body) =>
      createTable(e, normName(name), ine != null, temp != null)(
        e.ctas(normName(name), body))

    case CreateTableLike(temp, ine, nameRaw, srcRaw) =>
      // same schema, empty, and the source's definition (reference
      // ddl.go buildCreateTableLike copies the whole schema: keys,
      // defaults, CHECKs — the "Validate that CREATE LIKE preserves
      // checks" corpus — lengths, vocab, types, comments)
      val name = normName(nameRaw)
      val src = normName(srcRaw)
      createTable(e, name, ine != null, temp != null) {
        e.tables(name) = e.tableDef(src).likeCopy
        e.replaceTable(name, e.spark.table(src).limit(0), bumpDepth = false)
      }

    case CreateTableDef(name, body, ine, temp, tail) =>
      val t = normName(name)
      createTable(e, t, ine, temp) {
        val (optsText, selOpt) = splitSelectTail(tail)
        // options first: charset drives bytes-per-char in the row-size
        // limit that createFromDefs validates
        val aiStart = parseTableOptions(e, t, optsText)
        selOpt match {
          case Some(sel) => createDefsWithSelect(e, t, body, sel)
          case None => createFromDefs(e, t, body)
        }
        // AUTO_INCREMENT=n option seeds the counter — ignored when the
        // table has no auto-inc column (create_table_queries.go "table
        // with auto_increment table option")
        aiStart.filter(_ => e.tableDef(t).autoInc.isDefined)
          .foreach(n => e.alterDef(t)(_.copy(autoIncCounter = Some(n))))
      }

    case CreateProcedure(name, paramsText, body0) =>
      if (e.procedures.contains(name.toLowerCase))
        throw new IllegalArgumentException(
          s"PROCEDURE $name already exists (MySQL error 1304)")
      val params = splitTop(paramsText).map { pTxt =>
        if ("""(?i)^(OUT|INOUT)\b""".r.findFirstIn(pTxt).isDefined)
          throw new IllegalArgumentException(
            "unsupported procedure parameter mode (IN only): " + pTxt)
        val parts = pTxt.replaceFirst("(?i)^IN\\s+", "").split("\\s+", 2)
        (stripTick(parts(0)), parts.lift(1).getOrElse("").trim)
      }
      var body = body0.trim.stripSuffix(";").trim
      if (body.toUpperCase.startsWith("BEGIN")) {
        if (!body.toUpperCase.endsWith("END"))
          throw new IllegalArgumentException(
            s"unsupported procedure body: ${body.take(60)}")
        body = body.substring(5, body.length - 3)
      }
      if ("""(?i)\b(?:DECLARE|WHILE|LOOP|LEAVE|ITERATE|CURSOR|HANDLER)\b""".r
          .findFirstIn(body).isDefined)
        throw new IllegalArgumentException(
          "unsupported procedure body: control-flow statements")
      e.procedures(name.toLowerCase) = (params, body)
      Some(ok(e, 0L))

    case DropProcedure(ifExists, name) =>
      if (e.procedures.remove(name.toLowerCase).isEmpty && ifExists == null)
        throw new IllegalArgumentException(
          s"PROCEDURE $name does not exist (MySQL error 1305)")
      Some(ok(e, 0L))

    case CallProc(name, argsText) =>
      val (params, body) = e.procedures.getOrElse(name.toLowerCase,
        throw new IllegalArgumentException(
          s"PROCEDURE $name does not exist (MySQL error 1305)"))
      val args = Option(argsText).map(splitTop(_)).getOrElse(Seq.empty)
      if (args.length != params.length)
        throw new IllegalArgumentException(
          s"Incorrect number of arguments for PROCEDURE $name; " +
          s"expected ${params.length}, got ${args.length} (MySQL 1318)")
      var last: Option[DataFrame] = None
      splitTop(body, ';').foreach { st0 =>
        val st = params.zip(args).foldLeft(st0) { case (t, ((pn, _), a)) =>
          t.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(pn) +
            "\\b", java.util.regex.Matcher.quoteReplacement(s"($a)"))
        }
        last = Some(e.query(st))
      }
      // MySQL CALL returns the last statement's result set when it is a
      // query; writes return a bare OkResult
      Some(last.filter(df =>
          !df.columns.sameElements(Array("affected_rows")))
        .getOrElse(ok(e, 0L)))

    case CreateTrigger(name, timing, event, tableRaw, body) =>
      val table = e.canonicalTable(normName(tableRaw))
      e.spark.table(table) // target must exist (MySQL 1146)
      def named(t: Trigger) = t.name.equalsIgnoreCase(name)
      if (e.tables.valuesIterator.exists(_.triggers.exists(named)))
        throw new IllegalArgumentException(
          s"Trigger '$name' already exists (MySQL error 1359)")
      val trg = Trigger(name, timing.toUpperCase, event.toUpperCase, parseTriggerBody(body))
      e.alterDef(table)(d => d.copy(triggers = d.triggers :+ trg))
      Some(ok(e, 0L))

    case DropTrigger(ifExists, name) =>
      def named(t: Trigger) = t.name.equalsIgnoreCase(name)
      e.tables.find(_._2.triggers.exists(named)) match {
        case Some((t, d)) => e.tables(t) = d.copy(triggers = d.triggers.filterNot(named))
        case None if ifExists == null =>
          throw new IllegalArgumentException(s"Trigger does not exist (MySQL error 1360)")
        case None =>
      }
      Some(ok(e, 0L))

    case AlterTable(name, actions) =>
      // MySQL table names are case-insensitive on lookup — resolve to
      // the created relation's canonical spelling so declared metadata
      // (auto-inc, defaults, keys) keys consistently (`ALTER TABLE TEST
      // MODIFY …` on a table created as `test`)
      alterTable(e, e.canonicalTable(normName(name)), actions)
      Some(ok(e, 0L))

    case RenameTables(listText)
        if splitTop(listText).forall(RenamePair.matches) =>
      splitTop(listText).foreach { item =>
        val RenamePair(oldRaw, newRaw) = item: @unchecked
        val oldN = stripTick(oldRaw.trim)
        val newN = stripTick(newRaw.trim)
        checkIdent(newN)
        val df = scala.util.Try(e.spark.table(oldN)).getOrElse(
          throw new IllegalArgumentException(
            s"Table '$oldN' doesn't exist"))
        if (e.created(newN))
          throw new IllegalArgumentException(
            s"Table '$newN' already exists (MySQL 1050)")
        e.renameTableDef(oldN, newN)
        e.replaceTable(newN, df, bumpDepth = false)
        e.spark.catalog.dropTempView(oldN)
        // views naming the old table must re-resolve (and break) now
        e.refreshViews(oldN)
      }
      Some(ok(e, 0L))

    case DropMulti(_, _, listText) =>
      // multi-table DROP resolves FK dependency order itself: children
      // drop before the parents they reference (foreign_key_queries.go
      // "DROP TABLE, with multiple tables, sorts by foreign key
      // dependencies"). A cycle falls back to listing order (and drop()
      // raises 3730 exactly like MySQL would).
      var remaining = splitTop(listText)
        .map(n => normName(stripTick(n.trim))).toList
      while (remaining.nonEmpty) {
        val next = remaining.find(t =>
          !e.foreignKeys.exists(f => f.parent == t && f.child != t &&
            remaining.contains(f.child))).getOrElse(remaining.head)
        e.drop(next)
        remaining = remaining.filterNot(_ == next)
      }
      Some(ok(e, 0L))

    case DropTv(name) =>
      e.drop(normName(name)); Some(ok(e, 0L))

    case Trunc(tableRaw) =>
      val table = normName(tableRaw)
      val t = e.spark.table(table)
      // MySQL errno 1701: cannot truncate a table referenced by a FK
      // (suspended while FOREIGN_KEY_CHECKS=0)
      if (e.fkChecksEnabled &&
          e.foreignKeys.exists(f => f.parent == table && f.child != table))
        throw new IllegalArgumentException(
          s"Cannot truncate a table referenced in a foreign key " +
          s"constraint (MySQL error 1701)")
      e.replaceTable(table, t.limit(0), bumpDepth = true)
      // TRUNCATE resets AUTO_INCREMENT
      e.tables.get(table).foreach(d =>
        e.tables(table) = d.copy(autoIncCounter = None, autoIncShown = None))
      Some(ok(e, 0L))

    // comma-separated SET list over user AND system variables
    // (variable_queries.go "set system variables and user variables":
    // `SET @myvar = 5, @@autocommit = 0, ...`). Every item must parse
    // as an assignment or the whole statement falls through. Dispatches
    // BEFORE SetVar: its greedy tail would swallow a whole list as one
    // user-var expression.
    case SetList(listText) if {
      splitTop(listText).forall(SetItem.matches)
    } =>
      splitTop(listText).foreach { item =>
        val SetItem(target, value0) = item: @unchecked
        // a bare user-var RHS resolves here — SET statements skip the
        // front door's substitution (the TARGET must stay `@name`), so
        // `set @@time_zone = @old_time_zone` reads the var's stored form
        val value = value0.trim match {
          case v if v.matches("@[A-Za-z_][A-Za-z0-9_]*") =>
            e.varRendered(v.stripPrefix("@")).getOrElse("NULL")
          case v => v
        }
        val isGlobalScope =
          "(?i)^(?:GLOBAL\\s|@@global\\.)".r.findFirstIn(target.trim).isDefined
        val bare = target.trim
          .replaceAll("(?i)^(?:SESSION|GLOBAL)\\s+", "")
        if (bare.startsWith("@") && !bare.startsWith("@@")) {
          val v = e.query(s"SELECT $value").collect()(0).get(0)
          e.setVar(bare.stripPrefix("@"), v)
        } else {
          val name = bare.replaceAll("(?i)^@@(?:session\\.|global\\.)?", "")
            .toLowerCase
          name match {
            case "sql_mode" =>
              val v =
                if (value.trim.startsWith("'") || value.trim.startsWith("\""))
                  value.trim.stripPrefix("'").stripSuffix("'")
                    .stripPrefix("\"").stripSuffix("\"")
                else String.valueOf(
                  e.query(s"SELECT ($value)").collect()(0).get(0))
              e.setSqlMode(v)
            case "time_zone" =>
              val v =
                if (value.trim.startsWith("("))
                  String.valueOf(e.query(value.trim.stripPrefix("(")
                    .stripSuffix(")")).collect()(0).get(0))
                else value
              e.setTimeZone(v)
            case "names" | "character" => // unreachable (SetList guard)
            case _ =>
              val vt = value.trim
              val simple = vt.equalsIgnoreCase("DEFAULT") ||
                vt.matches("(?is)^-?\\d+(\\.\\d+)?$") ||
                vt.matches("(?is)^'[^']*'$") || vt.matches("(?is)^\"[^\"]*\"$") ||
                vt.matches("(?is)^[A-Za-z_][A-Za-z0-9_]*$")
              val rendered =
                if (simple) vt
                else e.query(s"SELECT ($vt)").collect()(0).get(0) match {
                  case null => "NULL"
                  case s: String => "'" + s.replace("'", "''") + "'"
                  case other => other.toString
                }
              e.setSystemVar(name, rendered, isGlobalScope)
          }
        }
      }
      Some(ok(e, 0L))

    case PrepareStmt(name, quoted) =>
      // the statement text is stored verbatim (MySQL keeps the source;
      // quote doubling and backslash escapes unescape to literal text)
      val body = quoted.substring(1, quoted.length - 1)
      e.preparedStmts(name) =
        if (quoted.startsWith("\""))
          body.replace("\"\"", "\"").replace("\\\"", "\"")
        else body.replace("''", "'").replace("\\'", "'")
      Some(ok(e, 0L))

    case PrepareFromVar(name, varName) =>
      val text = e.getVar(varName).getOrElse(throw new IllegalArgumentException(
        s"Undefined user variable '@$varName' in PREPARE"))
      e.preparedStmts(name) = text
      Some(ok(e, 0L))

    case ExecuteStmt(name, usingOpt) =>
      val body = e.preparedStmts.getOrElse(name,
        throw new IllegalArgumentException(
          s"Unknown prepared statement handler ($name) given to EXECUTE " +
          s"(MySQL error 1243)"))
      // session @vars are substituted to literals before dispatch, so
      // USING items arrive as rendered values (or still as @name when
      // the variable was never set)
      // quote-aware split: a string parameter containing a comma
      // ('a,b') is ONE positional binding, not two
      val params: Seq[Any] = Option(usingOpt).toSeq
        .flatMap(splitTop(_)).map { tok =>
          if (tok.startsWith("@")) e.getVarRaw(tok.stripPrefix("@")).orNull
          else if (tok.startsWith("'") && tok.endsWith("'"))
            tok.substring(1, tok.length - 1).replace("''", "'")
          else if (tok.equalsIgnoreCase("NULL")) null
          else
            try java.lang.Long.valueOf(tok)
            catch {
              case _: NumberFormatException =>
                try java.lang.Double.valueOf(tok)
                catch { case _: NumberFormatException => tok }
            }
        }
      // the values bind into the text as literals (arity checked there),
      // so INSERT/UPDATE/DELETE bodies reach the DML dispatch like any
      // statement
      Some(e.query(e.bindParams(body, Left(params))))

    case DeallocStmt(name) =>
      // MySQL 1243 for an unknown handler (prepared_statement_queries.go
      // "deallocate prepare idontexist")
      if (e.preparedStmts.remove(name).isEmpty)
        throw new IllegalArgumentException(
          s"Unknown prepared statement handler ($name) given to " +
          s"DEALLOCATE PREPARE (MySQL error 1243)")
      Some(ok(e, 0L))

    case SetTz(tz) =>
      // the value may be a scalar subquery (time_queries.go "set time
      // zone from table value") — evaluate it first, then validate
      val v =
        if (tz.trim.startsWith("(")) {
          val r = e.query(tz.trim.stripPrefix("(").stripSuffix(")")).collect()
          if (r.isEmpty || r(0).get(0) == null) "SYSTEM" else r(0).get(0).toString
        } else tz
      e.setTimeZone(v); Some(ok(e, 0L))

    // sql_mode: ANSI_QUOTES toggles double-quoted identifiers; other
    // modes are accepted as session chatter (reference sql_mode.go)
    case SetSqlMode(v) =>
      e.setSqlMode(v.trim.stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\""))
      Some(ok(e, 0L))

    case DescribeTbl(table) =>
      dispatchTrimmed(e, s"SHOW COLUMNS FROM `$table`")

    case ExplainStmt(planKw, analyze, fmt, inner) =>
      val df = e.query(inner)
      val s = e.spark
      import s.implicits._
      val isTree = planKw != null ||
        (fmt != null && fmt.equalsIgnoreCase("TREE"))
      if (analyze != null) {
        // ANALYZE adds the optimizer's cost/stats annotations — the
        // honest answer for an engine whose physical planning IS
        // Catalyst (SURVEY §4.4)
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("cost"))
        Some(Seq(text).toDF("EXPLAIN"))
      } else if (isTree) {
        // EXPLAIN PLAN / FORMAT=TREE: the reference's tree rendering for
        // the shapes its printer produces deterministically (dual
        // projections, table_count over a counted scan — plan.go
        // DescribeString); other plans show Spark's formatted plan,
        // the true physical story here
        Some(doltPlanLines(e, df, inner).toDF("plan"))
      } else {
        // plain EXPLAIN <select>: MySQL's 12-column tabular shape
        // (rowexec/show.go describe row)
        // absent cells render the literal string "NULL", as the
        // reference's describe row does (queries.go:9247)
        // table cell: the first aliased leaf relation in the ANALYZED
        // plan (not a regex over the input text); "NULL" when the plan
        // scans nothing (literal-only selects)
        def leafChain(q: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
          q match {
            case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
            case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, c) => leafChain(c)
            case v: org.apache.spark.sql.catalyst.plans.logical.View => leafChain(v.child)
            case _ => false
          }
        val tbl = df.queryExecution.analyzed.collectFirst {
          case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              id, c) if leafChain(c) => id.name
        }.getOrElse("NULL")
        val row = org.apache.spark.sql.Row(1L, "SELECT", tbl,
          "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "NULL", "")
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false) +:
          Seq("select_type", "table", "partitions", "type",
            "possible_keys", "key", "key_len", "ref", "rows",
            "filtered", "Extra").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.StringType, nullable = true)))
        import scala.jdk.CollectionConverters._
        Some(e.spark.createDataFrame(Seq(row).asJava, schema))
      }

    case SetNoop() => Some(ok(e, 0L)) // session charset/mode chatter
    // transaction chatter: this engine is autocommit-only (transactions
    // are agreed-descoped, SURVEY §2.12), so BEGIN/COMMIT/ROLLBACK and
    // savepoints accept as no-ops — every write is already durable
    // (insert_queries.go "autocommit off" blocks run COMMIT explicitly)
    case s if s.matches(
        "(?is)^\\s*(?:COMMIT|ROLLBACK|BEGIN(?:\\s+WORK)?|" +
        "START\\s+TRANSACTION(?:[\\s,]+(?:READ\\s+(?:ONLY|WRITE)|" +
        "WITH\\s+CONSISTENT\\s+SNAPSHOT))*|" +
        "(?:RELEASE\\s+)?SAVEPOINT\\s+\\S+|ROLLBACK\\s+TO\\s+\\S+)\\s*$") =>
      // an OkResult with NO result set: zero rows (queries.go START
      // TRANSACTION blocks expect an empty result)
      Some(e.spark.emptyDataFrame)

    case LoadData(path, modeKw, tableRaw, clauseText) =>
      val table = normName(tableRaw)
      // the SQL front door is faithful to MySQL: the target must exist
      // (load_queries.go ErrTableNotFound). The DSL method keeps its
      // create-from-file convenience.
      if (scala.util.Try(e.spark.table(table)).isFailure)
        throw new IllegalArgumentException(s"Table '$table' doesn't exist")
      LoadClauses.findFirstMatchIn(clauseText.trim) match {
        case Some(m) =>
          def s(g: Int, dflt: String) =
            Option(m.group(g)).map(unescape).getOrElse(dflt)
          // MySQL clause defaults (load_data.go): FIELDS TERMINATED BY
          // '\t' ENCLOSED BY '' ESCAPED BY '\\'; LINES TERMINATED BY '\n'
          // STARTING BY ''; IGNORE 0 LINES
          // [(col | @var, …)] positional item list + [SET col = expr, …]
          val items = Option(m.group(7)).toSeq
            .flatMap(_.split(",")).map(_.trim.stripPrefix("`")
              .stripSuffix("`")).filter(_.nonEmpty)
          val sets = Option(m.group(8)).toSeq
            .flatMap(splitTop(_)).map { a =>
              val eq = topLevelIndexOf(a, '=')
              require(eq > 0, s"malformed LOAD DATA SET clause: $a")
              (a.substring(0, eq).trim.stripPrefix("`").stripSuffix("`"),
                a.substring(eq + 1).trim)
            }
          val n = e.loadData(table, unescape(path),
            fieldsTerminatedBy = s(1, "\t"),
            enclosedBy = s(2, ""),
            escapedBy = s(3, "\\"),
            linesStartingBy = s(4, ""),
            linesTerminatedBy = s(5, "\n"),
            ignoreLines = Option(m.group(6)).map(_.toInt).getOrElse(0),
            mode = Option(modeKw).map(_.trim.toUpperCase).getOrElse(""),
            items = items, sets = sets)
          Some(ok(e, n))
        case None => throw new IllegalArgumentException(
          s"LOAD DATA: unrecognized clause text: $clauseText")
      }

    // ---- SHOW surface — the statements a MySQL client library probes on
    // connect (reference sql/rowexec/show.go; information_schema backs the
    // rest). LIKE filters use MySQL pattern chars (% _).
    case ShowVariables(like, where) =>
      val s = e.spark
      import s.implicits._
      // live view over the session catalog: overrides from SET win
      Some(filterWhere(e, filterLike(
        e.allSystemVars.toDF("Variable_name", "Value"),
        "Variable_name", like), where))

    case ShowStatus(like, where) =>
      val s = e.spark
      import s.implicits._
      // the zero-valued server counters the reference reports
      // (queries.go:7143-7205); an embedded engine has no wire traffic
      val stats = Seq(
        ("Aborted_clients", "0"), ("Bytes_sent", "0"),
        ("Com_stmt_close", "0"), ("Com_stmt_execute", "0"),
        ("Com_stmt_fetch", "0"), ("Com_stmt_prepare", "0"),
        ("Com_stmt_reprepare", "0"), ("Com_stmt_reset", "0"),
        ("Com_stmt_send_long_data", "0"), ("Questions", "1"),
        ("Ssl_cipher", ""), ("Threads_connected", "1"), ("Uptime", "1"))
      Some(filterWhere(e, filterLike(
        stats.toDF("Variable_name", "Value"), "Variable_name", like), where))

    case ShowDatabases(like, where) =>
      val s = e.spark
      import s.implicits._
      // the engine's schema list plus MySQL's two built-ins; Spark's
      // `default` namespace is an implementation detail, not a schema
      val dbs = (e.showDatabases().filterNot(_ == "default") ++
        Seq("information_schema", "mysql")).distinct.sorted
      Some(filterWhere(e, filterLike(
        dbs.toDF("Database"), "Database", like), where))

    case FlushStmt() =>
      // FLUSH [BINARY|ENGINE] LOGS/STATUS/… — stateless engine no-op
      // (queries.go:8419 expects an empty result)
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[String].toDF("Info"))

    case ShowTriggers() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, String, String, String, String, String,
          String, String, String, String, String)]
        .toDF("Trigger", "Event", "Table", "Statement", "Timing",
          "Created", "sql_mode", "Definer", "character_set_client",
          "collation_connection", "Database Collation"))

    case ShowEvents() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, String, String, String, String, String,
          String, String, String, String)]
        .toDF("Db", "Name", "Definer", "Time zone", "Type", "Starts",
          "Ends", "Status", "Originator", "character_set_client"))

    case ShowRoutineStatus() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, String, String, String, String, String,
          String, String)]
        .toDF("Db", "Name", "Type", "Definer", "Modified", "Created",
          "Security_type", "Comment"))

    case ShowEngines() =>
      val s = e.spark
      import s.implicits._
      // the reference surfaces information_schema.engines (planbuilder/
      // show.go:942); same single default-engine row
      Some(Seq(("InnoDB", "DEFAULT",
        "Supports transactions, row-level locking, and foreign keys",
        "YES", "YES", "YES"))
        .toDF("Engine", "Support", "Comment", "Transactions", "XA",
          "Savepoints"))

    case ShowOpenTables() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, String, Int, Int)]
        .toDF("Database", "Table", "In_use", "Name_locked"))

    case ShowBinaryLogs() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, Long, String)]
        .toDF("Log_name", "File_size", "Encrypted"))

    case ShowPlugins() =>
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(String, String, String, String, String)]
        .toDF("Name", "Status", "Type", "Library", "License"))

    case ShowWarnings(kind, off, lim) =>
      val s = e.spark
      import s.implicits._
      val all =
        if (kind.equalsIgnoreCase("ERRORS"))
          e.warnings.filter(_.level == "Error")
        else e.warnings
      val offset = Option(off).map(_.toInt).getOrElse(0)
      val listed = Option(lim) match {
        case Some(n) => all.slice(offset, offset + n.toInt)
        case None => all
      }
      Some(listed.map(w => (w.level, w.code, w.message))
        .toDF("Level", "Code", "Message"))

    case ShowCountWarnings(kind) =>
      val s = e.spark
      import s.implicits._
      if (kind.equalsIgnoreCase("ERRORS"))
        Some(Seq(e.errorCount).toDF("@@session.error_count"))
      else Some(Seq(e.warningCount).toDF("@@session.warning_count"))

    case CreateIdxStmt(uniq, kind, name, tableRaw, cols) =>
      // resolve to the CREATED spelling: declared-index metadata keys on
      // it, and MySQL table lookups are case-insensitive
      // (script_queries.go "case insensitive index handling")
      val table = e.canonicalTable(normName(tableRaw))
      checkIdent(name)
      // PRIMARY is reserved for the primary key's index
      // (script_queries.go "show create table with duplicate primary key")
      if (name.equalsIgnoreCase("primary"))
        throw new IllegalArgumentException(
          s"invalid index name '$name' (MySQL ErrInvalidIndexName)")
      // items are plain columns or parenthesized FUNCTIONAL expressions
      // — CREATE INDEX idx ON t ((LOWER(name))), reference
      // indexed_expressions_queries.go
      val items = splitTop(cols)
      val (exprItems0, colItems) = items.partition(_.startsWith("("))
      val exprItems = exprItems0
        .map(s => s.stripPrefix("(").stripSuffix(")").trim)
      val liveType = (c: String) => scala.util.Try(e.spark.table(table))
        .toOption.flatMap(_.schema.fields.find(_.name.equalsIgnoreCase(c)))
        .map(_.dataType)
      // column items may carry prefix lengths — "v1(3)" — validated the
      // same way CREATE TABLE / ALTER key parts are
      val colParts = colItems.flatMap(ci =>
        parseKeyParts(e, table, ci,
          kind = if (uniq != null) "unique" else "index", liveType))
      val colSeq = colParts.map(_._1)
      // vector index constraints (vector_index_queries.go): exactly one
      // column, and it must hold vectors (a vector/json column), never
      // a scalar
      if (kind != null && kind.trim.equalsIgnoreCase("VECTOR")) {
        if (colSeq.length != 1)
          throw new IllegalArgumentException(
            "a vector index must have exactly one column")
        val t = e.spark.table(table)
        val dt = t.schema.fields
          .find(_.name.equalsIgnoreCase(colSeq.head)).map(_.dataType)
        import org.apache.spark.sql.types._
        val ok = dt.exists {
          case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
          case _: StringType => true // json column carrying vector text
          case BinaryType => true
          case _ => false
        }
        if (!ok) throw new IllegalArgumentException(
          s"invalid column type for vector index on '${colSeq.head}' " +
          s"(MySQL ErrVectorInvalidColumnType)")
      }
      // key parts render with the COLUMN's declared case, not the
      // statement's (show create table after CREATE INDEX ... (vAL1))
      val colSeqCased = colSeq.map(c =>
        scala.util.Try(e.spark.table(table)).toOption
          .flatMap(_.schema.fields.find(_.name.equalsIgnoreCase(c)))
          .map(_.name).getOrElse(c))
      e.declareIndex(table, name, colSeqCased ++ exprItems.map(ex => s"($ex)"))
      colParts.foreach {
        case (c, Some(n)) => e.declareIndexPrefix(table, name, c, n)
        case _ => ()
      }
      val hasPrefix = colParts.exists(_._2.nonEmpty)
      if (uniq != null) {
        if (exprItems.isEmpty && !hasPrefix) {
          e.declareUnique(table, name, colSeq)
          try e.validateNoDuplicates(table, name, colSeq)
          catch { case ex: Throwable => e.dropIndex(table, name); throw ex }
        } else {
          // functional UNIQUE: uniqueness is over the TUPLE of all parts
          // — a composite like (a, (b+1)) must reject only rows equal on
          // BOTH parts, so columns and expressions fold into one combined
          // probe (per-part checks would reject rows MySQL accepts).
          // MySQL's NULL exemption applies when ANY part is NULL, which
          // the CASE collapse to NULL reproduces under the probe's
          // `isNotNull` gate.
          val parts = items.map { it =>
            if (it.startsWith("(")) it.stripPrefix("(").stripSuffix(")").trim
            else {
              val (c, l) =
                parseKeyParts(e, table, it, kind = "unique", liveType).head
              l.map(n => s"substring(`$c`, 1, $n)").getOrElse(s"`$c`")
            }
          }
          val combined =
            if (parts.length == 1) parts.head
            else s"CASE WHEN ${parts.map(p => s"($p) IS NULL").mkString(" OR ")} " +
              s"THEN NULL ELSE struct(${parts.mkString(", ")}) END"
          // prefix-only composites still render as a plain UNIQUE KEY
          if (exprItems.isEmpty) e.declareUnique(table, name, colSeq)
          e.declareUniqueExpr(table, name, combined)
          try e.enforceUniqueExprsPost(table, e.spark.table(table))
          catch { case ex: Throwable => e.dropIndex(table, name); throw ex }
        }
      }
      Some(ok(e, 0L))

    case DropIdxStmt(name, tableRaw) =>
      e.dropIndex(normName(tableRaw), name)
      Some(ok(e, 0L))

    // ANALYZE TABLE: stats live in the session (AQE re-plans from runtime
    // stats); returns MySQL's 4-column status row (rowexec/analyze.go)
    case AnalyzeStmt(tableRaw) =>
      val table = normName(tableRaw)
      e.spark.table(table) // validates existence
      // collect stats for the declared key columns, like the reference's
      // analyze pass over index leaves (stats_queries.go)
      e.analyzedColumns(table).foreach { c =>
        val h = e.computeColumnStats(table, c)
        e.alterDef(table)(d => d.copy(stats = d.stats.updated(c.toLowerCase, h)))
      }
      val s = e.spark
      import s.implicits._
      Some(Seq((table, "analyze", "status", "OK"))
        .toDF("Table", "Op", "Msg_type", "Msg_text"))

    case AnalyzeHistStmt(tableRaw, op, colsRaw, dataOpt) =>
      val table = normName(tableRaw)
      e.spark.table(table) // validates existence
      val cols = colsRaw.split(",").map(c => stripTick(c.trim))
        .filter(_.nonEmpty)
      op.trim.toUpperCase match {
        case "DROP" =>
          e.alterDef(table)(d => d.copy(stats = d.stats -- cols.map(_.toLowerCase)))
        case _ =>
          cols.foreach { c =>
            val h = Option(dataOpt)
              .map(_.replace("\\\"", "\"").replace("''", "'"))
              .getOrElse(e.computeColumnStats(table, c))
            e.alterDef(table)(d => d.copy(stats = d.stats.updated(c.toLowerCase, h)))
          }
      }
      val s = e.spark
      import s.implicits._
      Some(Seq((table, "histogram", "status", "OK"))
        .toDF("Table", "Op", "Msg_type", "Msg_text"))

    // privileges are descoped (§2.12): every session is the superuser,
    // which SHOW GRANTS reports honestly (mysql_db is not modeled)
    case ShowGrants() =>
      val s = e.spark
      import s.implicits._
      Some(Seq("GRANT ALL PRIVILEGES ON *.* TO `graft`@`%` WITH GRANT OPTION")
        .toDF("Grants for graft@%"))

    case ShowTableStatus(db, like, where) =>
      val s = e.spark
      import s.implicits._
      // Rows is the optimizer's estimate (MySQL's is approximate too);
      // no per-table scan — SHOW must not read data at any scale.
      // FROM db scopes the listing; WHERE filters over the result
      // columns (show_table_status_queries.go full clause surface)
      val listed =
        Option(db).map(d => scala.util.Try(
            e.spark.catalog.listTables(d).collect().toSeq)
          .getOrElse(Seq.empty))
          .getOrElse(e.spark.catalog.listTables().collect().toSeq)
      val rows = listed.map { t =>
        val qualified =
          if (db != null && t.database != null && t.database.nonEmpty &&
              t.database != "default") s"`${t.database}`.`${t.name}`"
          else t.name
        val est: java.lang.Long = scala.util.Try(
          e.spark.table(qualified).queryExecution.optimizedPlan.stats.rowCount
            .map(_.toLong)).toOption.flatten.map(Long.box).orNull
        val ai: java.lang.Long =
          e.tableDef(t.name).autoIncCounter.map(Long.box).orNull
        (t.name, "graft-spark", 10L, "Dynamic", est,
          ai, "utf8mb4_0900_ai_ci", "")
      }
      val df = rows.toDF("Name", "Engine", "Version", "Row_format",
        "Rows", "Auto_increment", "Collation", "Comment")
      Some(
        if (where != null) df.where(expr(where))
        else filterLike(df, "Name", like))

    // SHOW COLLATION / CHARACTER SET (reference sql/rowexec/show.go over
    // sql/collations.go): the resolvable catalog with MySQL's columns
    case ShowCollation(like, where) =>
      val s = e.spark
      import s.implicits._
      // the full 286-row MySQL catalog (sql/collations.go collationArray;
      // queries.go:5437 pins name/charset/id/default/compiled/sortlen/
      // pad per collation). COLLATE resolution stays on the curated
      // Dialect.supportedCollations subset — SHOW lists the catalog.
      val rows = Engine.collationCatalog.map {
        case (id, n, cs, d, c, sl, pad) =>
          (n, cs, id, if (d) "Yes" else "", if (c) "Yes" else "", sl, pad)
      }
      Some(filterWhere(e, filterLike(
        rows.toDF("Collation", "Charset", "Id", "Default", "Compiled",
          "Sortlen", "Pad_attribute"), "Collation", like), where))

    case ShowCharset(like) =>
      val s = e.spark
      import s.implicits._
      val rows = Seq(
        ("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", 4L),
        ("latin1", "cp1252 West European", "latin1_swedish_ci", 1L),
        ("ascii", "US ASCII", "ascii_general_ci", 1L),
        ("binary", "Binary pseudo charset", "binary", 1L))
      Some(filterLike(
        rows.toDF("Charset", "Description", "Default collation", "Maxlen"),
        "Charset", like))

    case ShowProcesslist() =>
      // the reference's embedded engine reports NO live processes
      // (queries.go `show full processlist` expects zero rows) — match
      // it: an embedded analytics session has no server connection list
      val s = e.spark
      import s.implicits._
      Some(Seq.empty[(Long, String, String, String, String, Long, String, String)]
        .toDF("Id", "User", "Host", "db", "Command", "Time", "State", "Info"))

    case ShowTbls(full, db, like, where) =>
      val s = e.spark
      import s.implicits._
      val dbName = Option(db).getOrElse {
        val cur = e.currentDatabase
        if (cur == null || cur.isEmpty) "default" else cur
      }
      val listed = s.catalog.listTables(
        if (db == null) s.catalog.currentDatabase else db)
        .collect().toSeq
        .filter(t => db == null || t.tableType != "TEMPORARY" ||
          t.database == db)
        // info-schema scaffolding views are not user tables
        .filterNot(t => e.infoSchemaViews(t.name.toLowerCase))
        // restore the created spelling (Spark lowercases temp views)
        .map(t => (e.canonicalTable(t.name),
          if (e.viewDefs.contains(e.canonicalTable(t.name)) ||
              t.tableType == "VIEW") "VIEW"
          else "BASE TABLE"))
      // BROKEN views (underlying table renamed/dropped) keep their
      // catalog listing even though no live temp view backs them
      val withBroken = (listed ++ (if (db == null)
          e.brokenViews.toSeq.filter(e.viewDefs.contains)
            .map(n => (n, "VIEW"))
        else Seq.empty))
        .distinct.sortBy(_._1.toLowerCase)
      val colName = s"Tables_in_$dbName"
      val base =
        if (full == null) withBroken.map(_._1).toDF(colName)
        else withBroken.toDF(colName, "Table_type")
      val filtered = filterLike(base, colName, like)
      Some(Option(where).map(w => filtered.filter(expr(w))).getOrElse(filtered))

    case ShowColumns(full, tableRaw, dbOpt, like, where) =>
      val s = e.spark
      import s.implicits._
      // the FROM-db qualifier resolves like SHOW INDEXES: the session
      // database's tables live as unqualified temp views, so a qualified
      // name that doesn't resolve falls back to the bare one
      // (information_schema_queries.go `show columns from fk_tbl from mydb`)
      val table = Option(dbOpt) match {
        case Some(db) =>
          Some(e.canonicalTable(s"$db.${normName(tableRaw)}"))
            .filter(q => scala.util.Try(e.spark.table(q)).isSuccess)
            .getOrElse(normName(tableRaw))
        case None => normName(tableRaw)
      }
      val base =
        if (full == null)
          e.showColumns(table)
            .map(c => (c._1, c._2, c._3, c._4, c._5.orNull, c._6))
            .toDF("Field", "Type", "Null", "Key", "Default", "Extra")
        else
          // FULL adds Collation / Privileges / Comment (show.go; string
          // columns carry the reference's default utf8mb4_0900_bin)
          e.showColumns(table)
            .map(c => (c._1, c._2,
              if (c._2.startsWith("varchar") || c._2.startsWith("char") ||
                  c._2.contains("text") || c._2.startsWith("enum") ||
                  c._2.startsWith("set")) "utf8mb4_0900_bin" else null,
              c._3, c._4, c._5.orNull, c._6, "",
              e.colDef(table, c._1).comment.getOrElse("")))
            .toDF("Field", "Type", "Collation", "Null", "Key", "Default",
              "Extra", "Privileges", "Comment")
      val filtered = filterLike(base, "Field", like)
      Some(Option(where).map(w => filtered.filter(expr(w))).getOrElse(filtered))

    case ShowIndexes(p1, p2, p3) =>
      // MySQL's full 15-column shape (create_table_queries.go SHOW KEYS
      // expectations: {t, 0, PRIMARY, 1, col, nil, 0, nil, nil, "",
      // BTREE, "", "", YES, nil}); the 4-column Engine.showIndex stays
      // the compact DSL surface
      val s = e.spark
      import s.implicits._
      // db.t → (db=p1, t=p2); `t FROM db` → (t=p1, db=p3); bare → p1
      val (dbOpt, bare) =
        if (p2 != null) (Some(p1), p2)
        else (Option(p3), p1)
      val infoSchemaDb =
        dbOpt.exists(_.equalsIgnoreCase("information_schema"))
      // table entries key db-qualified tables by their qualified name
      val table =
        if (infoSchemaDb) bare
        else dbOpt.map(d => e.canonicalTable(s"$d.$bare"))
          .filter(q => e.tableDef(q).key.isDefined ||
            scala.util.Try(e.spark.table(q)).isSuccess)
          .getOrElse(e.canonicalTable(bare))
      // info-schema tables carry no SHOW-able indexes (ref
      // information_schema_queries.go:30 expects zero rows)
      val t = if (infoSchemaDb) null
        else e.spark.table(table) // validates existence
      val nullable = if (t == null) Map.empty[String, Boolean]
        else t.schema.fields.map(f =>
          f.name.toLowerCase -> f.nullable).toMap
      // Null reports the DECLARED state (NOT NULL / PK), not the
      // physical frame flag; Table reports the STORED name case
      val pkColsIdx = e.tableDef(table).keyLower
      val shownName = table.split('.').last
      val defn = e.tableDef(table)
      val uniqueNames = defn.uniques.map(_._1.toLowerCase).toSet
      def rows(keyName: String, nonUnique: Int, cols: Seq[String],
               expr: Option[String]) =
        if (infoSchemaDb) Seq.empty
        else cols.zipWithIndex.map { case (c, i) =>
          val nn = if (expr.isEmpty &&
              nullable.getOrElse(c.toLowerCase, true) &&
              !e.colDef(table, c).notNull &&
              !pkColsIdx(c.toLowerCase)) "YES" else ""
          (shownName, nonUnique, keyName, i + 1,
            if (expr.isDefined) null else c,
            null: String, 0L, null: String, null: String, nn, "BTREE",
            "", "", "YES", expr.orNull)
        }
      val pk = e.tableDef(table).key.toSeq
        .flatMap(k => rows("PRIMARY", 0, k, None))
      val uk = defn.uniques.flatMap { case (n, cols) => rows(n, 0, cols, None) }
      val sec = defn.indexes.collect {
        case (n, cols) if !uniqueNames(n.toLowerCase) && !n.equalsIgnoreCase("PRIMARY") =>
          cols.zipWithIndex.flatMap { case (c, i) =>
            if (c.startsWith("(")) rows(n, 1, Seq(c), Some(c)).map(r =>
              r.copy(_4 = i + 1))
            else rows(n, 1, Seq(c), None).map(r => r.copy(_4 = i + 1))
          }
      }.flatten
      Some((pk ++ uk ++ sec).toDF("Table", "Non_unique", "Key_name",
        "Seq_in_index", "Column_name", "Collation", "Cardinality",
        "Sub_part", "Packed", "Null", "Index_type", "Comment",
        "Index_comment", "Visible", "Expression"))

    case ShowCreateDb(db) =>
      // MySQL's version-comment form (queries.go:5129) with the
      // schema's declared charset/collation (script_queries.go "test
      // show create database")
      val s = e.spark
      import s.implicits._
      val (cs, coll) = e.dbCollations.getOrElse(db.toLowerCase,
        ("utf8mb4", "utf8mb4_0900_bin"))
      Some(Seq((db,
        s"CREATE DATABASE `$db` /*!40100 DEFAULT CHARACTER SET $cs " +
          s"COLLATE $coll */"))
        .toDF("Database", "Create Database"))

    case ShowCreate(tableRaw) if e.viewDefs.contains(tableRaw) =>
      // MySQL's SHOW CREATE TABLE on a view answers in the view form
      // (ansi_quotes_queries.go "show create table view1")
      dispatchTrimmed(e, s"SHOW CREATE VIEW `$tableRaw`")

    case ShowCreate(tableRaw) =>
      val s = e.spark
      import s.implicits._
      // render the STORED name, not the query's spelling
      // (information_schema_queries.go `SHOW CREATE TABLE mytaBLE`)
      val table = e.canonicalTable(normName(tableRaw))
      Some(Seq((table.split('.').last, e.showCreateTable(table)))
        .toDF("Table", "Create Table"))

    case _ => None
  }

  /** MySQL LIKE filter for SHOW output (% and _ wildcards). */
  // ---- CREATE TABLE (col defs) / ALTER TABLE ---------------------------

  /** `s` split on top-level `sep` (literal- and paren-aware), pieces
    * trimmed, empty ones dropped. */
  private def splitTop(s: String, sep: Char = ','): Seq[String] =
    splitTopLevel(s, sep).map(_.trim).filter(_.nonEmpty)

  /** MySQL column type text -> Spark type (+ ENUM/SET vocabulary).
    * (reference sql/types type mapping: number.go, string.go, enum.go) */
  /** ENUM/SET member literals accept both quote styles. */
  private def unq(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && (t.head == '\'' || t.head == '"') &&
        t.last == t.head) t.substring(1, t.length - 1)
    else t
  }

  private def mysqlDataType(t: String)
      : (org.apache.spark.sql.types.DataType, Option[(Boolean, Seq[String])]) = {
    import org.apache.spark.sql.types._
    val trimmed = t.trim
    val lower = trimmed.toLowerCase
    val base = lower.takeWhile(c => c.isLetter || c == '_')
    // args keep their ORIGINAL case: ENUM('a','B') members are
    // case-significant catalog data (enum.go keeps declared spelling)
    val args = {
      val o = lower.indexOf('(')
      if (o < 0) Seq.empty[String]
      else splitTop(trimmed.substring(o + 1, trimmed.lastIndexOf(')')))
    }
    val unsigned = lower.contains("unsigned")
    base match {
      case "tinyint" => (if (unsigned) ShortType else ByteType, None)
      case "bool" | "boolean" => (BooleanType, None)
      case "smallint" => (if (unsigned) IntegerType else ShortType, None)
      case "mediumint" | "int" | "integer" =>
        (if (unsigned) LongType else IntegerType, None)
      case "bigint" =>
        (if (unsigned) DecimalType(20, 0) else LongType, None)
      case "serial" => (LongType, None)
      case "float" => (FloatType, None)
      case "double" | "real" => (DoubleType, None)
      case "decimal" | "numeric" | "dec" | "fixed" =>
        val p = args.headOption.map(_.trim.toInt).getOrElse(10)
        val s = args.lift(1).map(_.trim.toInt).getOrElse(0)
        // MySQL bounds (reference sql/types/decimal.go:58): p <= 65,
        // s <= 30, s <= p. Spark's DecimalType caps at 38 — wider
        // declarations store canonical fixed-scale text (StringType);
        // the caller records (p, s) in the column's ColumnDef and the
        // write/compare paths go through functions.WideDecimal.
        if (p > graft.functions.WideDecimal.MaxPrecision)
          throw new IllegalArgumentException(
            s"Too-big precision $p specified. Maximum is 65. (MySQL 1426)")
        if (s > graft.functions.WideDecimal.MaxScale)
          throw new IllegalArgumentException(
            s"Too big scale $s specified. Maximum is 30. (MySQL 1425)")
        if (s > p) throw new IllegalArgumentException(
          s"For decimal(M,D), M must be >= D (MySQL 1427)")
        if (p > 38) (StringType, None) else (DecimalType(p, s), None)
      case "date" => (DateType, None)
      case "datetime" => (TimestampNTZType, None)
      case "timestamp" => (TimestampType, None)
      case "time" | "json" | "uuid" => (StringType, None)
      // YEAR stores its numeric value (types/year.go; reads are int16)
      case "year" => (IntegerType, None)
      case "char" | "varchar" | "tinytext" | "text" | "mediumtext" |
           "longtext" | "nchar" | "nvarchar" => (StringType, None)
      case "binary" | "varbinary" | "tinyblob" | "blob" | "mediumblob" |
           "longblob" => (BinaryType, None)
      // BIT(n) is an unsigned n-bit integer on read (queries expect
      // uint64 values, not bytes)
      case "bit" => (DecimalType(20, 0), None)
      case "enum" =>
        (StringType, Some((false, args.map(unq))))
      case "set" =>
        (StringType, Some((true, args.map(unq))))
      case "vector" => (ArrayType(FloatType), None)
      // geometry column types carry WKT text (the engine's canonical
      // geometry representation — functions/spatial.scala); constructors
      // and st_* accessors read/write it directly (spatial_queries.go
      // CREATE TABLE ... p point DEFAULT (point(...)))
      case "point" | "linestring" | "polygon" | "multipoint" |
           "multilinestring" | "multipolygon" | "geometrycollection" |
           "geomcollection" | "geometry" => (StringType, None)
      case other =>
        throw new IllegalArgumentException(s"unsupported column type: $other")
    }
  }

  private def stripTick(s: String): String = s.stripPrefix("`").stripSuffix("`")

  /** Column-declared collation: `nm VARCHAR(20) COLLATE utf8mb4_0900_ai_ci`
    * becomes a Spark collated string type, so every later comparison /
    * ORDER BY / GROUP BY on the column is collation-aware without
    * per-query COLLATE clauses (reference: column collations resolve at
    * CREATE time, sql/planbuilder/ddl.go + sql/collations.go). The MySQL
    * name was already mapped to a Spark collation by Dialect.rewrite. */
  /** Record (or clear) the re-declared column collation from a full
    * MODIFY/CHANGE column spec — COLLATE name, or the deprecated
    * `CHARACTER SET x BINARY` attribute = x_bin. */
  private def recordSpecCollation(e: Engine, table: String, colName: String,
                                  spec: String): Unit = {
    val c = """(?i)\bCOLLATE\s+[`']?([A-Za-z0-9_]+)""".r.findFirstMatchIn(spec)
      .map(_.group(1).toLowerCase)
      .orElse {
        """(?i)\b(?:CHARACTER\s+SET|CHARSET)\s+[`']?([A-Za-z0-9_]+)[`']?\s+BINARY\b""".r
          .findFirstMatchIn(spec).map(_.group(1).toLowerCase + "_bin")
      }
    e.alterCol(table, colName)(_.copy(collation = c))
  }

  private def applyCollation(dt: org.apache.spark.sql.types.DataType,
                             spec: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.StringType
    """(?i)\bCOLLATE\s+[`']?([A-Za-z0-9_]+)""".r.findFirstMatchIn(spec) match {
      case Some(m) if dt == StringType =>
        // table DDL reaches here with the ORIGINAL MySQL name (the
        // dialect pass leaves table DDL unmapped so the catalog can
        // record it) — resolve to the Spark collation here
        val mapped = Dialect.mapCollation(m.group(1))
        if (mapped.equalsIgnoreCase("UTF8_BINARY")) dt
        else StringType(mapped)
      case _ => dt
    }
  }

  /** `GENERATED ALWAYS AS (expr) [VIRTUAL|STORED]` (MySQL also allows the
    * bare `AS (expr)` shorthand) — balanced-paren expr extraction. */
  private def extractGenerated(spec: String): Option[String] =
    """(?is)\b(?:GENERATED\s+ALWAYS\s+)?AS\s*\(""".r.findFirstMatchIn(spec)
      .map { m =>
        val s = spec.substring(m.end)
        val close = closingParen(s)
        if (close < 0) s else s.substring(0, close)
      }

  // [CONSTRAINT name] FOREIGN KEY (cols) REFERENCES parent (cols)
  // [ON DELETE action] [ON UPDATE action]  (reference sql/plan/ddl.go +
  // foreign_key_handler.go)
  private val FkItem = re(
    """(?is)^\s*(?:CONSTRAINT\s+(?:`([^`]*)`|([A-Za-z0-9_]+))\s+)?FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+<T>\s*\(([^)]*)\)(.*)$""")

  private def parseFk(e: Engine, table: String, item: String): Option[Engine.ForeignKey] =
    item match {
      case FkItem(nameTick, nameBare, childCols, parentRaw, parentCols, tail) =>
        // backticked names admit any characters (`child5_ibfk_-2`);
        // an explicit empty name (``) falls back to auto-naming
        val name = Option(nameTick).filter(_.nonEmpty)
          .orElse(Option(nameBare)).orNull
        Option(nameBare).foreach(checkIdent)
        def action(kw: String): String =
          (s"""(?is)\\bON\\s+$kw\\s+(CASCADE|SET\\s+NULL|SET\\s+DEFAULT|RESTRICT|NO\\s+ACTION)""").r
            .findFirstMatchIn(tail)
            .map(_.group(1).toUpperCase.replaceAll("\\s+", " "))
            .getOrElse("NO ACTION") // MySQL's displayed default action
        // auto-name: highest existing <t>_ibfk_N + 1, case-sensitively
        // (foreign_key_queries.go "foreign key naming": an explicit
        // child3_ibfk_100 pushes the next auto name to _101)
        def autoName: String = {
          val re = ("^" + java.util.regex.Pattern.quote(table) +
            "_ibfk_(-?\\d+)$").r
          val maxN = e.foreignKeys.toSeq.filter(_.child == table)
            .flatMap(f => re.findFirstMatchIn(f.name)
              .flatMap(m => scala.util.Try(m.group(1).toLong).toOption))
          // MySQL stores the counter as uint32: _ibfk_-2 is followed by
          // _ibfk_4294967295, then wraps to _ibfk_0 ("foreign key
          // naming" wrap-around cases)
          val m = if (maxN.isEmpty) 0L else maxN.max // a lone -2 counts
          val next = (m + 1L) & 0xFFFFFFFFL
          s"${table}_ibfk_$next"
        }
        Some(Engine.ForeignKey(
          Option(name).getOrElse(autoName),
          table,
          childCols.split(",").map(c => stripTick(c.trim)).toSeq,
          normName(parentRaw),
          parentCols.split(",").map(c => stripTick(c.trim)).toSeq,
          action("DELETE"), action("UPDATE")))
      case _ => None
    }

  /** `[CONSTRAINT name] CHECK (expr)` — balanced-paren expr extraction;
    * None when the item carries no CHECK. */
  private def extractCheck(item: String): Option[(Option[String], String)] =
    """(?is)(?:\bCONSTRAINT\s+`?([A-Za-z0-9_]+)`?\s+)?\bCHECK\s*\(""".r
      .findFirstMatchIn(item).flatMap { m =>
        val s = item.substring(m.end)
        val close = closingParen(s)
        if (close < 0) None
        else Some((Option(m.group(1)), s.substring(0, close)))
      }

  /** DEFAULT value in a column spec: '(expr)' taken with the balanced
    * scan (nested parens — DEFAULT ((2 + (3)))), quoted strings with
    * ''/\' escapes, else the bare token. */
  private def extractDefault(spec: String): Option[String] =
    // `DEFAULT(expr)` is legal with no space (ansi_quotes_queries.go
    // column-defaults block), so the gap is optional before '('
    """(?is)\bDEFAULT(?:\s+|\s*(?=\())""".r.findFirstMatchIn(spec).map { m =>
      val s = spec.substring(m.end)
      if (s.startsWith("(")) {
        val close = closingParen(s, 1)
        if (close < 0) s else s.substring(0, close + 1)
      } else if (s.startsWith("'"))
        """'(?:[^'\\]|\\.|'')*'""".r.findPrefixOf(s)
          .getOrElse(s.takeWhile(!_.isWhitespace))
      else if (s.startsWith("\""))
        // MySQL double-quoted string defaults ("joe\'s bar",
        // "quote""bazzar" — insert_queries.go "Defaults with escaped
        // strings")
        ("\"(?:[^\"\\\\]|\\\\.|\"\")*\"").r.findPrefixOf(s)
          .getOrElse(s.takeWhile(!_.isWhitespace))
      else s.takeWhile(c => !c.isWhitespace && c != ',')
    }

  /** Canonical Spark-SQL string literal for a raw value. */
  private def sqlStringLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  // one nesting level: key-part lists may carry prefix lengths —
  // "PRIMARY KEY (i(10))", "unique index (v1(3),v2(5))"
  private val keyCols = """\(((?:[^()]|\([^()]*\))*)\)""".r

  /** "v1(3), v2" → (column, prefix-length) parts with the reference's
    * prefix-index validation (enginetest/queries/index_queries.go
    * IndexPrefixQueries; sql/errors.go): zero length → 1391; prefix on a
    * non-string/binary column or past the declared char length → 1089;
    * any prefix inside a PRIMARY KEY → ErrUnsupportedIndexPrefix (the
    * reference's storage cannot prefix its clustered key — matched for
    * error-shape parity). */
  private def parseKeyParts(e: Engine, table: String, colsRaw: String,
      kind: String, // "pk" | "unique" | "index"
      typeOf: String => Option[org.apache.spark.sql.types.DataType])
      : Seq[(String, Option[Int])] = {
    import org.apache.spark.sql.types._
    val isPk = kind == "pk"
    val Part =
      """(?is)^\s*(`[^`]+`|[A-Za-z_][A-Za-z0-9_$]*)\s*(?:\(\s*(\d+)\s*\))?\s*(?:ASC|DESC)?\s*$""".r
    val invalid = (c: String) => new IllegalArgumentException(
      s"incorrect prefix key '$c'; the used key part isn't a string, " +
      "the used length is longer than the key part, or the storage " +
      "engine doesn't support unique prefix keys (MySQL 1089)")
    splitTop(colsRaw).map { p =>
      p match {
        case Part(c0, len0) =>
          val c = stripTick(c0)
          Option(len0).map(_.toInt) match {
            case Some(0) =>
              throw new IllegalArgumentException(
                s"key part '$c' length cannot be 0 (MySQL 1391)")
            case Some(n) =>
              val dt = typeOf(c)
              val stringy = dt.exists(d =>
                d.isInstanceOf[StringType] || d == BinaryType)
              if (dt.isDefined && !stringy) throw invalid(c)
              // over-limit beats the PK-unsupported error (reference
              // IndexPrefixQueries "string index prefix errors": v(11)
              // on varchar(10) is 1089 even inside a PRIMARY KEY)
              if (e.colDef(table, c).charLimit.exists(n > _)) throw invalid(c)
              // InnoDB's 3072-byte key cap: text chars weigh 4 bytes
              // (utf8mb4), blob bytes weigh 1 (blob_queries.go
              // BlobErrors: b(3073) and t(769) are both 1071)
              val bytes =
                if (dt.exists(_.isInstanceOf[StringType])) 4L * n else n.toLong
              if (bytes > 3072L) throw new IllegalArgumentException(
                "specified key was too long; max key length is 3072 " +
                "bytes (MySQL 1071)")
              if (isPk) throw new IllegalArgumentException(
                s"prefix index on string column '$c' unsupported")
              (c, Some(n))
            case None =>
              // BLOB/TEXT parts need a prefix length (MySQL 1170) —
              // except the MariaDB-compat no-prefix UNIQUE the
              // reference allows (index_queries.go "unique indexes on
              // TEXT/BLOB columns with no prefix length")
              if (kind != "unique" && e.colDef(table, c).blobText)
                throw new IllegalArgumentException(
                  s"blob/text column '$c' used in key specification " +
                  "without a key length (MySQL 1170)")
              (c, None)
          }
        case other => (stripTick(other), None)
      }
    }
  }

  /** Substring-tuple uniqueness probe for a prefix-bearing UNIQUE key:
    * NULL in any part exempts the row (the CASE collapse), matching the
    * MySQL unique-index NULL rule the plain path follows. */
  private def prefixProbe(parts: Seq[(String, Option[Int])]): String = {
    val exprs = parts.map { case (c, l) =>
      l.map(n => s"substring(`$c`, 1, $n)").getOrElse(s"`$c`") }
    if (exprs.length == 1) exprs.head
    else s"CASE WHEN ${exprs.map(p => s"($p) IS NULL").mkString(" OR ")} " +
      s"THEN NULL ELSE struct(${exprs.mkString(", ")}) END"
  }

  /** Declare index metadata (+ prefix lengths) and, for UNIQUE, the
    * matching enforcement: full-tuple via declareUnique plus — when any
    * part carries a prefix — a substring-tuple probe through
    * declareUniqueExpr (prefix uniqueness is strictly tighter than
    * whole-column uniqueness, so both can coexist). */
  private def declareParsedKey(e: Engine, table: String, name: String,
      parts: Seq[(String, Option[Int])], unique: Boolean): Unit = {
    val cols = parts.map(_._1)
    e.declareIndex(table, name, cols)
    parts.foreach {
      case (c, Some(n)) => e.declareIndexPrefix(table, name, c, n)
      case _ => ()
    }
    if (unique) {
      e.declareUnique(table, name, cols)
      if (parts.exists(_._2.nonEmpty))
        e.declareUniqueExpr(table, name, prefixProbe(parts))
    }
  }

  /** one `name TYPE [flags]` item -> StructField (+ vocab/key bookkeeping) */
  /** ON UPDATE CURRENT_TIMESTAMP[(p)] column option (update_queries.go
    * OnUpdateExprScripts; reference sql/planbuilder column options):
    * only the now-family is legal, only on TIMESTAMP/DATETIME columns,
    * and the fractional precision must match the column's exactly.
    * Guards against FK inline-REFERENCES actions (ON UPDATE CASCADE…). */
  private def parseOnUpdateClause(e: Engine, table: String, colName: String,
      rest: String, dt: org.apache.spark.sql.types.DataType): Unit =
    """(?is)\bON\s+UPDATE\s+(?!CASCADE|SET\s|RESTRICT|NO\s)(\S+(?:\s*\([^)]*\))?)"""
      .r.findFirstMatchIn(rest).foreach { mm =>
        val exprText = mm.group(1).trim
        val NowForm =
          """(?i)^(CURRENT_TIMESTAMP|NOW|LOCALTIME|LOCALTIMESTAMP)(?:\s*\(\s*(\d*)\s*\))?[,)]?$""".r
        exprText match {
          case NowForm(_, prec) =>
            val isTime = dt == org.apache.spark.sql.types.TimestampNTZType ||
              dt == org.apache.spark.sql.types.TimestampType
            if (!isTime) throw new IllegalArgumentException(
              s"Invalid ON UPDATE clause for '$colName': only TIMESTAMP/" +
              "DATETIME columns take ON UPDATE CURRENT_TIMESTAMP " +
              "(MySQL ErrInvalidOnUpdate)")
            val declP = Option(prec).filter(_.nonEmpty).map(_.toInt).getOrElse(0)
            val colP = e.colDef(table, colName).timePrecision.getOrElse(0)
            if (declP != colP) throw new IllegalArgumentException(
              s"Invalid ON UPDATE clause for '$colName': " +
              s"CURRENT_TIMESTAMP($declP) does not match the column's " +
              s"precision $colP (MySQL ErrInvalidOnUpdate)")
            e.alterCol(table, colName)(_.copy(onUpdate = Some(declP)))
          case other if other.startsWith("(") =>
            throw new IllegalArgumentException(
              s"syntax error near 'update' (general expressions are not " +
              s"valid in ON UPDATE): $other")
          case other =>
            throw new IllegalArgumentException(
              s"Invalid ON UPDATE clause for '$colName': $other " +
              "(MySQL ErrInvalidOnUpdate)")
        }
      }

  /** The type text of a column spec: up to the end of its (args), else
    * the first word, with a following UNSIGNED. */
  private def columnTypeText(rest: String): String = {
    val o = rest.indexOf('(')
    val firstWord = rest.takeWhile(!_.isWhitespace)
    if (o >= 0 && o <= firstWord.length)
      rest.substring(0, rest.indexOf(')') + 1) +
        (if (rest.substring(rest.indexOf(')') + 1).toLowerCase
              .trim.startsWith("unsigned")) " unsigned" else "")
    else firstWord +
      (if (rest.drop(firstWord.length).toLowerCase.trim
            .startsWith("unsigned")) " unsigned" else "")
  }

  /** Declares a column's own attributes from its spec (`rest`, the text
    * after the name): every `ColumnDef` marker its type text carries —
    * display width, precision, VECTOR dimension, UNSIGNED bounds,
    * CHAR/VARCHAR length, YEAR, wide DECIMAL, BIT width, TEXT kind,
    * BINARY pad, ENUM/SET members, BLOB/TEXT, JSON — and its COMMENT.
    * CREATE's column definitions, ALTER … ADD and ALTER … MODIFY
    * declare through it. */
  private def declareColumnType(e: Engine, table: String, colName: String,
                                typeText: String, rest: String): Unit = {
    val baseLower = typeText.trim.toLowerCase
      .takeWhile(c => c.isLetter || c == '_')
    val vocab = mysqlDataType(typeText)._2
    // integer display widths parse but drop — EXCEPT tinyint(1), the one
    // width MySQL preserves; negative widths are syntax errors
    // (create_table_queries.go "display width for numeric types")
    """(?i)^(tinyint|smallint|mediumint|int|integer|bigint)\s*\(\s*(-?\d+)\s*\)""".r
      .findFirstMatchIn(typeText.trim).foreach { mm =>
        val w = mm.group(2).toInt
        if (w < 0) throw new IllegalArgumentException(
          s"syntax error near '${mm.group(1).toLowerCase}'")
        if (mm.group(1).equalsIgnoreCase("tinyint") && w == 1)
          e.alterCol(table, colName)(_.copy(tinyint1 = true))
      }
    // DATETIME/TIMESTAMP/TIME fractional precision is 0-6
    // (create_table_queries.go "datetime precision" / "timestamp
    // precision": p>6 errors, negative p is a syntax error)
    """(?i)^(datetime|timestamp|time)\s*\(\s*(-?\d+)\s*\)""".r
      .findFirstMatchIn(typeText.trim).foreach { mm =>
        val p = mm.group(2).toInt
        if (p < 0) throw new IllegalArgumentException(
          s"syntax error near '${mm.group(1).toLowerCase}'")
        if (p > 6) throw new IllegalArgumentException(
          s"${mm.group(1).toUpperCase} supports precision from 0 to 6")
        if (p > 0 && !mm.group(1).equalsIgnoreCase("time"))
          e.alterCol(table, colName)(_.copy(timePrecision = Some(p)))
      }
    // VECTOR(n): n > 0 required, the dimension validates on write
    // (vector_ddl_queries.go); a declared vector column also gates the
    // binary/text write coercions
    if (baseLower == "vector") {
      """(?i)^vector\s*\(\s*(-?\d+)\s*\)""".r
        .findFirstMatchIn(typeText.trim) match {
          case Some(mm) =>
            val n = mm.group(1).toInt
            if (n <= 0) throw new IllegalArgumentException(
              s"syntax error near 'vector': dimension must be positive")
            e.alterCol(table, colName)(_.copy(vecDim = Some(n)))
          case None =>
            e.alterCol(table, colName)(_.copy(vecDim = Some(-1)))
        }
    }
    // column COMMENT survives into SHOW CREATE TABLE
    """(?is)\bCOMMENT\s+('(?:\\.|''|[^'\\])*'|"(?:\\.|""|[^"\\])*")""".r
      .findFirstMatchIn(rest).foreach { mm =>
        e.alterCol(table, colName)(_.copy(comment = Some(unquoteSqlString(mm.group(1)))))
      }
    // UNSIGNED integer columns keep their MySQL bound for strict-mode
    // range checks (no unsigned types in Spark — storage widens)
    if (typeText.toLowerCase.contains("unsigned") &&
        Set("tinyint", "smallint", "mediumint", "int", "integer",
          "bigint")(baseLower))
      e.declareUnsigned(table, colName, baseLower)
    // declared CHAR/VARCHAR length: parquet strings are unbounded, so the
    // limit lives in the column's definition and the write paths enforce it
    // (reference sql/types/strings.go:465 ErrLengthBeyondLimit)
    """(?i)^(n?(?:var)?char)\s*\(\s*(\d+)\s*\)""".r
      .findFirstMatchIn(typeText.trim)
      .foreach { mm =>
        e.declareCharLimit(table, colName, mm.group(2).toInt)
        // CHAR(n) vs VARCHAR(n) keyword survives into the catalog render
        if (!mm.group(1).toLowerCase.contains("var"))
          e.alterCol(table, colName)(_.copy(fixedChar = true))
      }
    if (baseLower == "year") e.alterCol(table, colName)(_.copy(year = true))
    // DECIMAL wider than Spark's 38-digit cap: record the declared
    // (p, s) — storage is canonical fixed-scale text (WideDecimal)
    if (Set("decimal", "numeric", "dec", "fixed")(baseLower))
      """(?i)^[a-z]+\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
        .findFirstMatchIn(typeText.trim).foreach { mm =>
          val p = mm.group(1).toInt
          val s = Option(mm.group(2)).map(_.toInt).getOrElse(0)
          if (p > 38) e.alterCol(table, colName)(_.copy(wideDec = Some((p, s))))
        }
    if (baseLower == "bit")
      e.alterCol(table, colName)(_.copy(bitWidth = Some(
        """(?i)^bit\s*\(\s*(\d+)\s*\)""".r.findFirstMatchIn(typeText.trim)
          .map(_.group(1).toInt).getOrElse(1))))
    // TEXT(m) picks the smallest text type that fits m (strings.go):
    // the DECLARED KIND survives into DESCRIBE
    if (baseLower == "text")
      """(?i)^text\s*\(\s*(\d+)\s*\)""".r.findFirstMatchIn(typeText.trim)
        .foreach { mm =>
          val m = mm.group(1).toLong
          val kind =
            if (m < 256) "tinytext" else if (m < 65536) "text"
            else if (m < 16777216) "mediumtext" else "longtext"
          e.alterCol(table, colName)(_.copy(textKind = Some(kind)))
        }
    // signed MEDIUMINT stores as Spark int; keep the declared kind for
    // the catalog render (DESCRIBE/information_schema expect mediumint)
    if (baseLower == "mediumint" && !typeText.toLowerCase.contains("unsigned"))
      e.alterCol(table, colName)(_.copy(textKind = Some("mediumint")))
    // fixed BINARY(n): stored values zero-pad to the declared width
    """(?i)^binary\s*(?:\(\s*(\d+)\s*\))?(?:\s|$)""".r
      .findFirstMatchIn(typeText.trim)
      .foreach { mm =>
        e.alterCol(table, colName)(_.copy(binPad = Some(
          Option(mm.group(1)).map(_.toInt).getOrElse(1))))
      }
    vocab.foreach { case (isSet, vs) =>
      // *_ci collations hash member lookup case-insensitively
      // (reference sql/types/enum.go:86 collation.HashToUint). The
      // dialect layer may have already mapped the MySQL name to a Spark
      // collation (utf8mb4_0900_ai_ci -> UNICODE_CI_AI), so both
      // spellings are recognized.
      val ci = """(?i)\bCOLLATE\s+[`']?([A-Za-z0-9_]+)""".r
        .findFirstMatchIn(rest)
        .exists { m =>
          val n = m.group(1).toLowerCase
          n.endsWith("_ci") || n.contains("_ci_") || n == "utf8_lcase"
        }
      if (isSet) e.declareSet(table, colName, vs, ci)
      else e.declareEnum(table, colName, vs, ci)
    }
    // BLOB/TEXT family columns key only with a prefix length (1170)
    if (Set("tinytext", "text", "mediumtext", "longtext", "tinyblob",
        "blob", "mediumblob", "longblob")(baseLower))
      e.alterCol(table, colName)(_.copy(blobText = true))
    if (baseLower == "json") e.alterCol(table, colName)(_.copy(json = true))
  }

  private def parseColDef(e: Engine, table: String, item: String)
      : org.apache.spark.sql.types.StructField = {
    import org.apache.spark.sql.types._
    val m = """(?s)^\s*(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
      .findFirstMatchIn(item)
      .getOrElse(throw new IllegalArgumentException(s"bad column def: $item"))
    val colName = stripTick(m.group(1))
    checkIdent(colName)
    val rest = m.group(2)
    val typeText = columnTypeText(rest)
    val up = rest.toUpperCase
    val baseLower = typeText.trim.toLowerCase
      .takeWhile(c => c.isLetter || c == '_')
    declareColumnType(e, table, colName, typeText, rest)
    // charset/collation attach only to character types: a COLLATE on the
    // binary family is ErrBinaryCollation, a CHARACTER SET on any
    // non-character type is ErrCharacterSetOnInvalidType
    // (create_table_queries.go "valid character set and collation options")
    val binaryFamily = Set("binary", "varbinary", "tinyblob", "blob",
      "mediumblob", "longblob", "bit")
    val charFamily = Set("char", "varchar", "tinytext", "text",
      "mediumtext", "longtext", "nchar", "nvarchar", "enum", "set")
    if (binaryFamily(baseLower) &&
        """(?i)\bCOLLATE\s""".r.findFirstIn(rest).isDefined)
      throw new IllegalArgumentException(
        s"binary types cannot have a collation: column '$colName' " +
        s"(MySQL ErrBinaryCollation)")
    if (!charFamily(baseLower) &&
        """(?i)\b(?:CHARACTER\s+SET|CHARSET)\s""".r.findFirstIn(rest).isDefined)
      throw new IllegalArgumentException(
        s"character set may only be declared on character-typed columns: " +
        s"column '$colName' (MySQL ErrCharacterSetOnInvalidType)")
    // declared column collation — the MySQL catalog name — survives into
    // SHOW CREATE / DESCRIBE when it differs from the table collation;
    // the deprecated `CHARACTER SET x BINARY` attribute means x_bin
    if (charFamily(baseLower))
      """(?i)\bCOLLATE\s+[`']?([A-Za-z0-9_]+)""".r.findFirstMatchIn(rest)
        .map(_.group(1).toLowerCase)
        .orElse {
          """(?i)\b(?:CHARACTER\s+SET|CHARSET)\s+[`']?([A-Za-z0-9_]+)[`']?\s+BINARY\b""".r
            .findFirstMatchIn(rest).map(_.group(1).toLowerCase + "_bin")
        }
        .foreach(c => e.alterCol(table, colName)(_.copy(collation = Some(c))))
    val (dt0, vocab) = mysqlDataType(typeText)
    val dt1 = applyCollation(dt0, rest)
    // a column without its own COLLATE inherits the TABLE collation —
    // including the Spark collated string type, so comparisons are
    // collation-aware ("subquery with case insensitive collation":
    // table-level ai_ci must make text IN-probes case-insensitive)
    val dt = dt1 match {
      case org.apache.spark.sql.types.StringType
          if charFamily(baseLower) &&
            """(?i)\bCOLLATE\s""".r.findFirstIn(rest).isEmpty =>
        e.tableDef(table).collation.map { tc =>
          val mapped = scala.util.Try(Dialect.mapCollation(tc))
            .getOrElse("UTF8_BINARY")
          if (mapped.equalsIgnoreCase("UTF8_BINARY")) dt1
          else org.apache.spark.sql.types.StringType(mapped)
        }.getOrElse(dt1)
      case other => other
    }
    if (up.contains("PRIMARY KEY")) {
      if (e.colDef(table, colName).blobText)
        throw new IllegalArgumentException(
          s"blob/text column '$colName' used in key specification " +
          "without a key length (MySQL 1170)")
      e.declareKey(table, Seq(colName))
    }
    else if (up.contains("UNIQUE")) {
      e.declareUnique(table, colName, Seq(colName))
      e.declareIndex(table, colName, Seq(colName))
    }
    if (up.contains("AUTO_INCREMENT")) {
      // AUTO_INCREMENT is integer-only — MySQL 1063 on every other
      // type (script_queries.go "char/float/date/… with auto_increment"
      // blocks; bit is rejected too)
      val autoIncOk = Set("tinyint", "smallint", "mediumint", "int",
        "integer", "bigint", "bool", "boolean", "serial")
      if (!autoIncOk(baseLower))
        throw new IllegalArgumentException(
          s"Incorrect column specifier for column '$colName' (MySQL 1063)")
      e.declareAutoInc(table, colName)
    }
    extractGenerated(rest) match {
      case Some(g) =>
        // STORED only with the explicit keyword; MySQL's default is
        // VIRTUAL (generated_columns.go SHOW CREATE renders no suffix)
        val stored = """(?i)\bSTORED\b""".r.findFirstIn(rest).isDefined
        e.declareGenerated(table, colName, g, stored)
      case None =>
        // declared DEFAULT: applied to unmentioned columns on insert.
        // MySQL validates the declaration itself (column_default_queries
        // .go:505-530): bare column references need parens (syntax
        // error), and literal defaults must convert to the column type
        // (ErrIncompatibleDefaultType, MySQL 1067).
        extractDefault(rest).foreach { d =>
          val t = d.trim
          val bareIdent = """^[A-Za-z_][A-Za-z0-9_]*$""".r.matches(t) &&
            !Set("null", "true", "false", "current_timestamp", "now",
              "current_date", "localtime", "localtimestamp", "uuid")
              .contains(t.toLowerCase)
          if (bareIdent) throw new IllegalArgumentException(
            s"Column reference in DEFAULT must be enclosed in parentheses: " +
            s"'$t' (MySQL syntax error)")
          val numLit = """^-?\d+(\.\d+)?$""".r.matches(t)
          val strLit = t.startsWith("'")
          // DEFAULT NULL on an implicitly/explicitly NOT NULL column is
          // MySQL 1067 (script_queries.go "enums with default values":
          // `enum('a') primary key default null` →
          // ErrIncompatibleDefaultType)
          if (t.equalsIgnoreCase("NULL") &&
              (up.contains("NOT NULL") || up.contains("PRIMARY KEY")))
            throw new IllegalArgumentException(
              s"Incompatible DEFAULT NULL for NOT NULL column " +
              s"'$colName' (MySQL 1067)")
          // an ENUM string default must name a member; a SET default's
          // comma-joined parts must all be members ('' = the empty set
          // is legal for SET, not for ENUM — "enums with empty string")
          if (strLit && vocab.isDefined) {
            val (isSet, members) = vocab.get
            val body = unquoteSqlString(t)
            val ok =
              if (isSet) body.isEmpty || body.split(",", -1).forall(m =>
                members.exists(_.equalsIgnoreCase(m)))
              else members.exists(_.equalsIgnoreCase(body))
            if (!ok) throw new IllegalArgumentException(
              s"Invalid default value for '$colName' (MySQL 1067)")
          }
          if (numLit && t.startsWith("-") &&
              rest.toUpperCase.contains("UNSIGNED"))
            throw new IllegalArgumentException(
              s"Incompatible DEFAULT $t for unsigned column '$colName' " +
              s"(MySQL 1067)")
          // ENUM/SET defaults must be member STRING literals — MySQL
          // rejects numeric defaults (script_queries.go "enums with
          // zero": enum(...) default 0 → ErrInvalidColumnDefaultValue)
          if (numLit && vocab.isDefined)
            throw new IllegalArgumentException(
              s"Invalid default value for '$colName' (MySQL 1067)")
          // a CURRENT_TIMESTAMP(p) default must match the column's own
          // fractional precision exactly (create_table_queries.go
          // "datetime precision" → ErrInvalidColumnDefaultValue)
          """(?i)^(?:CURRENT_TIMESTAMP|NOW|LOCALTIME(?:STAMP)?)\s*(?:\(\s*(\d*)\s*\))?$""".r
            .findFirstMatchIn(t).foreach { mm =>
              val defP = Option(mm.group(1)).filter(_.nonEmpty)
                .map(_.toInt).getOrElse(0)
              val colP = e.colDef(table, colName).timePrecision.getOrElse(0)
              val isTime = dt == org.apache.spark.sql.types.TimestampNTZType ||
                dt == org.apache.spark.sql.types.TimestampType
              if (isTime && defP != colP)
                throw new IllegalArgumentException(
                  s"Invalid default value for '$colName': " +
                  s"CURRENT_TIMESTAMP($defP) does not match the column's " +
                  s"precision $colP (MySQL 1067)")
            }
          if (strLit && !numLit) {
            val body = t.stripPrefix("'").stripSuffix("'")
            val numericTarget = dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
            if (numericTarget && scala.util.Try(BigDecimal(body)).isFailure)
              throw new IllegalArgumentException(
                s"Incompatible DEFAULT $t for numeric column '$colName' " +
                s"(MySQL 1067)")
          }
          // quoted literals re-escape into canonical Spark form — MySQL
          // admits '' / "" doubling and double-quoted strings, Spark
          // only backslash escapes in single quotes
          val dStored =
            if ((t.length >= 2 && t.startsWith("'") && t.endsWith("'")) ||
                (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")))
              sqlStringLit(unquoteSqlString(t))
            else d
          e.declareDefault(table, colName, dStored)
        }
    }
    parseOnUpdateClause(e, table, colName, rest, dt)
    // column-level CHECK (MySQL 8.0.16 enforcement semantics)
    extractCheck(rest).foreach { case (nm, ex) =>
      e.declareCheck(table, nm.getOrElse(
        s"${table}_chk_${e.tableDef(table).checks.size + 1}"), ex)
    }
    if (up.contains("NOT NULL")) e.declareNotNull(table, colName)
    // PRIMARY KEY / AUTO_INCREMENT columns are implicitly NOT NULL
    StructField(colName, dt, nullable = !up.contains("NOT NULL") &&
      !up.contains("PRIMARY KEY") && !up.contains("AUTO_INCREMENT"))
  }

  /** `()` as a VALUES row tuple — `INSERT INTO t () VALUES ()`, or mixed
    * `VALUES (0), (1), (NULL), ()` (insert_queries.go auto-inc scripts) —
    * means "all columns take their defaults". Expanded token-wise into a
    * full DEFAULT tuple so the ordinary VALUES path (which already
    * understands DEFAULT tokens) handles it; only a depth-0 `()`
    * directly after VALUES or a row comma qualifies, so `now()` and
    * friends are untouched. */
  private def expandEmptyTuples(e: Engine, table: String,
                                hasList: Boolean, body: String): String = {
    if ("""(?is)^\s*VALUES?\b""".r.findFirstIn(body).isEmpty ||
        !body.replaceAll("\\s", "").contains("()")) return body
    val arity = e.spark.table(table).columns.length
    val defTuple = Seq.fill(math.max(arity, 1))("DEFAULT")
      .mkString("(", ", ", ")")
    val toks = SqlRewrite.tokenize(body)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var depth = 0
    var i = 0
    var prev: Option[SqlRewrite.Tok] = None
    while (i < toks.length) {
      val t = toks(i)
      val isEmptyTuple = depth == 0 && t.kind == SqlRewrite.Sym &&
        t.text == "(" && i + 1 < toks.length &&
        toks(i + 1).kind == SqlRewrite.Sym && toks(i + 1).text == ")" &&
        prev.exists(p => p.isWord("values") || p.isWord("value") ||
          (p.kind == SqlRewrite.Sym && p.text == ","))
      if (isEmptyTuple) {
        patches += ((t.start, toks(i + 1).end, defTuple))
        prev = Some(toks(i + 1))
        i += 2
      } else {
        if (t.kind == SqlRewrite.Sym && t.text == "(") depth += 1
        else if (t.kind == SqlRewrite.Sym && t.text == ")") depth -= 1
        prev = Some(t)
        i += 1
      }
    }
    // an empty row tuple is only legal against an empty (or absent)
    // column list — MySQL raises 1136 otherwise (insert_queries.go:
    // "INSERT INTO t (a) VALUES ()" is ErrInsertIntoMismatchedColumns)
    if (patches.nonEmpty && hasList)
      throw new IllegalArgumentException(
        s"Column count doesn't match value count at row 1 (MySQL 1136)")
    if (patches.isEmpty) body else SqlRewrite.splice(body, patches.toSeq)
  }

  /** Existence gate for every CREATE TABLE form: an existing table or
    * view under the name is MySQL error 1050 — or a silent no-op under
    * IF NOT EXISTS (reference ddl.go buildCreateTable ErrTableAlreadyExists,
    * matching the CreateView path). Returns true when the statement
    * should no-op. Running BEFORE any metadata mutation also protects a
    * live table's declared keys/defaults from the failed-CREATE cleanup
    * below. */
  /** Split a CREATE TABLE options tail at its trailing `[AS] SELECT`,
    * quote-aware: returns (optionsText, Some(selectText)) or
    * (tail, None). */
  private def splitSelectTail(tail: String): (String, Option[String]) = {
    val i = scanTop(tail)((j, _, _) =>
      if (SqlRewrite.wordAt(tail, j, "SELECT")) j else -1)
    if (i < 0) (tail, None)
    else {
      val head = tail.substring(0, i).replaceAll("(?is)\\bAS\\s*$", "")
        .replaceAll("\\(\\s*$", "") // strip an opening paren of (SELECT…)
      (head.trim, Some(tail.substring(i,
        if (tail.substring(0, i).trim.endsWith("(")) tail.lastIndexOf(')')
        else tail.length)))
    }
  }

  /** MySQL identifiers are limited to 64 characters (reference
    * sql/planbuilder ValidateIdentifier; create_table_queries.go
    * "Identifier lengths"). */
  private def checkIdent(name: String): Unit = {
    val bare = name.split("\\.").last.stripPrefix("`").stripSuffix("`")
    if (bare.length > 64)
      throw new IllegalArgumentException(
        s"Invalid identifier: '$bare' is longer than 64 characters " +
        s"(MySQL ErrInvalidIdentifier)")
  }

  /** Unquote a '…'/"…" SQL string literal: doubled quotes and the MySQL
    * backslash escapes (\n \r \t \0 \Z \' \" \\) resolve to their
    * characters. */
  private def unquoteSqlString(q: String): String = {
    val quote = q.charAt(0)
    val body = q.substring(1, q.length - 1)
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length) {
        body.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
          case 't' => sb.append('\t'); case '0' => sb.append('\u0000')
          case 'Z' => sb.append('\u001a')
          case o => sb.append(o)
        }
        i += 2
      } else if (c == quote && i + 1 < body.length &&
          body.charAt(i + 1) == quote) {
        sb.append(quote); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** CREATE TABLE options tail: [DEFAULT] CHARSET/CHARACTER SET,
    * COLLATE, COMMENT, AUTO_INCREMENT (ENGINE is accepted and ignored).
    * Declares charset/collation/comment in the table's entry, validates the
    * charset-collation pair, and returns the AUTO_INCREMENT start if
    * present. */
  private def parseTableOptions(e: Engine, table: String,
                                tail: String): Option[Long] = {
    if (tail.isEmpty) return None
    val cs = """(?is)\b(?:CHARACTER\s+SET|CHARSET)\s*=?\s*`?([A-Za-z0-9_]+)`?""".r
      .findFirstMatchIn(tail).map(_.group(1))
    val coll = """(?is)\bCOLLATE\s*=?\s*`?([A-Za-z0-9_]+)`?""".r
      .findFirstMatchIn(tail).map(_.group(1))
    for (c <- cs; l <- coll)
      // the collation's charset prefix must agree with the declared
      // charset ("utf8mb4 is not a valid character set for
      // utf8mb3_esperanto_ci" — create_table_queries.go)
      if (!(l.equalsIgnoreCase(c) ||
            l.toLowerCase.startsWith(c.toLowerCase + "_")))
        throw new IllegalArgumentException(
          s"$c is not a valid character set for $l")
    val cmt = """(?is)\bCOMMENT\s*=?\s*('(?:\\.|''|[^'\\])*'|"(?:\\.|""|[^"\\])*")""".r
      .findFirstMatchIn(tail).map(m => unquoteSqlString(m.group(1)))
    e.alterDef(table)(d => d.copy(charset = cs.orElse(d.charset),
      collation = coll.orElse(d.collation), comment = cmt.orElse(d.comment)))
    """(?is)\bAUTO_INCREMENT\s*=?\s*(\d+)""".r
      .findFirstMatchIn(tail).map(_.group(1).toLong)
  }

  private def createPrecheck(e: Engine, table: String, ifNotExists: Boolean,
                             temporary: Boolean = false): Boolean = {
    checkIdent(table)
    val exists = e.created(table)
    if (temporary) {
      // CREATE TEMPORARY TABLE shadows an existing base table instead of
      // raising 1050 (reference buildCreateTable skips the existence
      // check for temp tables); the base's frame and entry are kept so
      // DROP reveals it again. DataFrames analyze eagerly, so the frame
      // binds the base's plan before the temp view replaces it. The
      // temporary table starts with an entry of its own.
      if (exists) {
        val base = e.tables.remove(table)
        if (!e.tempShadow.contains(table))
          scala.util.Try(e.spark.table(table))
            .foreach(df => e.tempShadow(table) = (df, base))
      }
      return false
    }
    if (exists && !ifNotExists)
      throw new IllegalArgumentException(
        s"Table '$table' already exists (MySQL 1050)")
    exists
  }

  /** One CREATE TABLE form: `build` declares and stores the table unless
    * IF NOT EXISTS finds it there. A failed build leaves the name as it
    * found it: a new table's entry goes (row_limit_queries.go re-runs
    * CREATE with the same name), a base table this CREATE TEMPORARY
    * shadowed comes back with its entry, as on DROP, and a temporary
    * table it would have replaced keeps its own entry. (createPrecheck
    * rejects any other CREATE over an existing name before `build`.) */
  private def createTable(e: Engine, table: String, ifNotExists: Boolean,
                          temporary: Boolean)(build: => Unit)
      : Option[DataFrame] = {
    val shadowedHere = temporary && !e.tempShadow.contains(table)
    val before = e.tables.get(table)
    if (!createPrecheck(e, table, ifNotExists, temporary))
      try build
      catch { case ex: Throwable =>
        if (!(shadowedHere && e.unshadow(table)))
          before.fold(e.tables.remove(table))(d => e.tables.put(table, d))
        throw ex
      }
    Some(ok(e, 0L))
  }

  private def createFromDefs(e: Engine, table: String,
                             body: String): Unit = {
    import org.apache.spark.sql.types._
    val fields = parseDefItems(e, table, body)
    validateCheckRefs(e, table, fields.map(_.name.toLowerCase).toSet)
    // the declared row must fit InnoDB's 65535-byte cap
    // (memory/table.go:1316 validateMaxRowLength)
    e.validateRowLength(table, StructType(fields))
    // List-based constructor -> LocalRelation leaf (an emptyRDD would be
    // a LogicalRDD, blocking Engine.replaceTable's local-plan collapse)
    val df = e.spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(fields))
    e.tables.getOrElseUpdate(table, TableDef.Empty)
    e.replaceTable(table, df, bumpDepth = false)
  }

  /** Parse the parenthesized def list: declares all key/constraint
    * metadata in the table's entry and returns the column StructFields (with
    * the post-checks both CREATE forms share — duplicate columns,
    * PK-implied NOT NULL, auto-inc-must-be-keyed). */
  private def parseDefItems(e: Engine, table: String,
                            body: String)
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    // FK items defer until every column is parsed: the declaration
    // validates child column types, and a FOREIGN KEY item may precede
    // the columns it names
    val fkItems = scala.collection.mutable.ArrayBuffer.empty[String]
    splitTop(body).foreach { item0 =>
      val item = canonicalKeyItem(item0)
      val up = item.toUpperCase
      if (up.startsWith("PRIMARY KEY")) {
        keyCols.findFirstMatchIn(item).foreach { k =>
          val parts = parseKeyParts(e, table, k.group(1), kind = "pk",
            c => fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
          e.declareKey(table, parts.map(_._1))
        }
      } else if (up.startsWith("FOREIGN") ||
          (up.startsWith("CONSTRAINT") && up.contains("FOREIGN"))) {
        fkItems += item
      } else if (up.startsWith("UNIQUE")) {
        // UNIQUE [KEY|INDEX] [name] (cols): enforced like the PK but
        // NULL-exempt (MySQL unique-index semantics)
        val m = ("(?is)^UNIQUE\\s*(?:KEY\\s+|INDEX\\s+)?" +
          "(?:`?([A-Za-z0-9_]+)`?\\s*)?\\(((?:[^()]|\\([^()]*\\))*)\\)").r
          .findFirstMatchIn(item)
        m.foreach { mm =>
          val parts = parseKeyParts(e, table, mm.group(2), kind = "unique",
            c => fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
          // MySQL's default index name: the first key column, deduped
          // with _2/_3 against already-declared indexes
          val taken = e.tableDef(table).indexes.map(_._1.toLowerCase).toSet
          val base = parts.head._1
          val name = Option(mm.group(1)).getOrElse(
            if (!taken(base.toLowerCase)) base
            else Iterator.from(2).map(i => s"${base}_$i")
              .find(n => !taken(n.toLowerCase)).get)
          checkIdent(name)
          declareParsedKey(e, table, name, parts, unique = true)
        }
      } else if (up.startsWith("CHECK") ||
          (up.startsWith("CONSTRAINT") && up.contains("CHECK"))) {
        // table-level CHECK: enforced on every write (MySQL 8.0.16+)
        // unless declared NOT ENFORCED (catalog-visible, never validated)
        val enforced = !up.replaceAll("\\s+", " ").endsWith("NOT ENFORCED")
        extractCheck(item).foreach { case (nm, ex) =>
          nm.foreach(checkIdent)
          e.declareCheck(table, nm.getOrElse(
            s"${table}_chk_${e.tableDef(table).checks.size + 1}"), ex,
            enforced)
        }
      } else if (up.startsWith("KEY") || up.startsWith("INDEX")) {
        // plain secondary index: declared so SHOW CREATE TABLE / SHOW
        // KEYS render it; an unnamed index takes its first column's
        // name, deduped with _2/_3 like MySQL
        val m = ("(?is)^(?:KEY|INDEX)\\s*" +
          "(?:`?([A-Za-z0-9_]+)`?\\s*)?\\(((?:[^()]|\\([^()]*\\))*)\\)").r
          .findFirstMatchIn(item)
        m.foreach { mm =>
          val parts = parseKeyParts(e, table, mm.group(2), kind = "index",
            c => fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
          val base = Option(mm.group(1)).getOrElse(parts.head._1)
          checkIdent(base)
          val taken = e.tableDef(table).indexes.map(_._1.toLowerCase).toSet
          val name = if (!taken(base.toLowerCase)) base
            else Iterator.from(2).map(i => s"${base}_$i")
              .find(n => !taken(n.toLowerCase)).get
          declareParsedKey(e, table, name, parts, unique = false)
        }
      } else if (Seq("UNIQUE", "CONSTRAINT", "FOREIGN",
          "FULLTEXT", "SPATIAL").exists(up.startsWith))
        () // FULLTEXT/SPATIAL index + FK metadata: no physical effect here
      else {
        fields += parseColDef(e, table, item)
        // inline `col TYPE REFERENCES parent(col)` creates an enforced,
        // auto-named FK (foreign_key_queries.go "Inline column
        // REFERENCES"; MySQL itself ignores the inline form, the
        // reference enforces it)
        """(?is)\bREFERENCES\s+(`?[A-Za-z0-9_]+`?)\s*\(([^)]*)\)"""
          .r.findFirstMatchIn(item).foreach { m =>
            val colName = stripTick(item.trim.split("\\s+").head)
            fkItems += s"FOREIGN KEY (`$colName`) REFERENCES ${m.group(1)} (${m.group(2)})"
          }
      }
    }
    // column names are unique case-insensitively (MySQL 1060;
    // create_table_queries.go "case insensitive column name uniqueness")
    fields.groupBy(_.name.toLowerCase).collectFirst {
      case (_, fs) if fs.length > 1 => fs.head.name
    }.foreach(d => throw new IllegalArgumentException(
      s"Duplicate column name '$d' (MySQL 1060)"))
    // table-level PRIMARY KEY columns become NOT NULL like inline ones
    val pkSet = e.tableDef(table).keyLower
    // a VIRTUAL generated column cannot join the primary key
    // (generated_columns.go "illegal table definitions"; MySQL 3106)
    e.tableDef(table).generated.foreach { case (c, _) =>
      if (pkSet(c) && !e.colDef(table, c).stored)
        throw new IllegalArgumentException(
          "Defining a virtual generated column as part of the primary " +
          "key is not supported (MySQL 3106)")
    }
    if (pkSet.nonEmpty) fields.mapInPlace(f =>
      if (pkSet(f.name.toLowerCase)) f.copy(nullable = false) else f)
    // an AUTO_INCREMENT column must be the leftmost column of SOME key
    // (reference ErrInvalidAutoIncCols; create_table_queries.go "missing
    // unique key" block)
    val defn = e.tableDef(table)
    defn.autoInc.foreach { c =>
      val keyed =
        defn.key.exists(_.exists(_.equalsIgnoreCase(c))) ||
        (defn.uniques ++ defn.indexes).exists(_._2.headOption.exists(_.equalsIgnoreCase(c)))
      if (!keyed) throw new IllegalArgumentException(
        "there can be only one auto_increment column and it must be " +
        "defined as a key (MySQL ErrInvalidAutoIncCols)")
    }
    fkItems.foreach(item =>
      parseFk(e, table, item).foreach(fk =>
        e.declareForeignKey(fk, Some(fields.toSeq))))
    fields.toSeq
  }

  /** CHECK expressions may only reference the table's own columns
    * (check_scripts.go "error cases": CREATE TABLE t4 ... CHECK (c1 > c3)
    * with no c3 → ErrColumnNotFound, MySQL 1054). Runs on the plain
    * CREATE path only — the defs+SELECT form adds query-derived columns
    * parseDefItems cannot see. */
  private def validateCheckRefs(e: Engine, table: String,
      colSet: Set[String]): Unit =
    e.tableDef(table).checks.foreach { case (n, ex, _) =>
      val refs =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(ex).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.name.toLowerCase
          }
        catch { case _: Exception => Seq.empty[String] }
      refs.find(r => !colSet(r)).foreach { missing =>
        throw new IllegalArgumentException(
          s"Unknown column '$missing' in check constraint '$n' (MySQL 1054)")
      }
    }

  /** `CREATE TABLE t (mixed defs) [AS] SELECT …` — MySQL merges the two:
    * pure key/index items declare on the result set's columns, a column
    * def naming a SELECT output column overrides its type/nullability,
    * and a column def absent from the SELECT prepends as a new leading
    * column (reference create_table_queries.go "CREATE TABLE with
    * constraints AS SELECT", dolt issue 9316). */
  private def createDefsWithSelect(e: Engine, table: String, body: String,
                                   select: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    val df0 = e.query(select)
    val defs = parseDefItems(e, table, body)
    val existing = df0.columns.map(c => c.toLowerCase -> c).toMap
    val overrides = defs.filter(f => existing.contains(f.name.toLowerCase))
      .map(f => f.name.toLowerCase -> f).toMap
    val fresh = defs.filterNot(f => existing.contains(f.name.toLowerCase))
    // defined-but-unselected columns lead (MySQL column order), filled
    // with NULL; selected columns keep their data, cast when overridden
    val selCols = df0.columns.map { c =>
      overrides.get(c.toLowerCase) match {
        case Some(f) => col(s"`$c`").cast(f.dataType).as(c)
        case None => col(s"`$c`")
      }
    }
    val merged = df0.select(
      fresh.map(f => lit(null).cast(f.dataType).as(f.name)) ++ selCols: _*)
    val pkSet = e.tableDef(table).keyLower
    val schema = StructType(merged.schema.fields.map { f =>
      val want = overrides.get(f.name.toLowerCase)
      f.copy(nullable = want.map(_.nullable).getOrElse(f.nullable) &&
        !pkSet(f.name.toLowerCase))
    })
    e.validateRowLength(table, schema)
    // rdd + explicit schema: the only way to pin nullability on the result
    val df = e.spark.createDataFrame(merged.rdd, schema)
    e.tables.getOrElseUpdate(table, TableDef.Empty)
    e.replaceTable(table, df, bumpDepth = false)
  }

  /** ALTER TABLE actions (reference sql/planbuilder/ddl.go buildAlterTable):
    * ADD/DROP/MODIFY/CHANGE/RENAME COLUMN, RENAME TO, ADD PRIMARY KEY;
    * index DDL is metadata-only here. Applied as one view rewrite. */
  private def alterTable(e: Engine, table: String, actions: String): Unit = {
    // ALTER TABLE rejects views outright (MySQL error 1347 "'v1' is not
    // BASE TABLE"); RENAME TABLE is the statement that may move views
    if (e.viewDefs.contains(e.canonicalTable(table)))
      throw new IllegalArgumentException(
        s"'$table' is not BASE TABLE (MySQL error 1347)")
    // a failed ALTER keeps no half-applied declaration: an early action
    // may have renamed columns, dropped keys, or declared defaults before
    // a later action or the final validateRowLength threw — the data
    // change rolls back with the un-replaced DataFrame already, and the
    // old entry goes back in place
    val before = e.tables.get(table)
    try alterTableInner(e, table, actions)
    catch { case ex: Throwable =>
      before.fold(e.tables.remove(table))(d => e.tables.put(table, d))
      throw ex
    }
  }

  private def alterTableInner(e: Engine, table: String,
                              actions: String): Unit = {
    var df = e.spark.table(table)
    var renameTo: Option[String] = None
    // MySQL resolves every action of a multi-action ALTER against the
    // schema at statement START (alter_table_queries.go "variety of
    // alter column statements": add vnew + drop vnew in one statement is
    // ErrTableColumnNotFound, as is dropping a renamed-away column)
    val originalCols = df.columns.map(_.toLowerCase).toSet
    val renamedAway = scala.collection.mutable.Set.empty[String]
    val AlterColDefault =
      """(?is)^ALTER\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+SET\s+DEFAULT\s+(.+)$""".r
    val AlterColDropDefault =
      """(?is)^ALTER\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+DROP\s+DEFAULT$""".r
    val Add =
      """(?is)^ADD\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
    val DropCol =
      """(?is)^DROP\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$""".r
    val RenameCol =
      """(?is)^RENAME\s+COLUMN\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+TO\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$""".r
    val RenameTo =
      """(?is)^RENAME\s+(?:TO\s+|AS\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$""".r
    val Modify =
      """(?is)^MODIFY\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
    val Change =
      """(?is)^CHANGE\s+(?:COLUMN\s+)?(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
    val AddPk =
      """(?is)^ADD\s+PRIMARY\s+KEY\s*\(((?:[^()]|\([^()]*\))*)\)$""".r
    val IndexDdl =
      """(?is)^(?:ADD\s+(?:UNIQUE\s+|FULLTEXT\s+|SPATIAL\s+)?(?:INDEX|KEY)|DROP\s+(?:INDEX|KEY|PRIMARY\s+KEY)|ALTER\s+INDEX|RENAME\s+(?:INDEX|KEY)|ENGINE|AUTO_INCREMENT|COMMENT|CONVERT\s+TO|CHARACTER\s+SET|COLLATE).*$""".r
    val AddIndex =
      """(?is)^ADD\s+(UNIQUE\s+)?(?:FULLTEXT\s+|SPATIAL\s+)?(?:INDEX\s+|KEY\s+)?(?:`?([A-Za-z0-9_]+)`?\s*)?\(((?:[^()]|\([^()]*\))*)\)$""".r
    val DropIdx = """(?is)^DROP\s+(?:INDEX|KEY)\s+`?([A-Za-z0-9_]+)`?$""".r
    // `ADD CONSTRAINT CHECK (...)` (no name — check_scripts.go "unnamed
    // constraint") is legal: MySQL autogenerates <table>_chk_N
    val AddCheck =
      """(?is)^ADD\s+(?:CONSTRAINT\s+(?:`?([A-Za-z0-9_]+)`?\s+)?)?CHECK\s*\(.*$""".r
    val DropCheck =
      """(?is)^DROP\s+(?:CHECK|CONSTRAINT)\s+`?([A-Za-z0-9_]+)`?$""".r
    // `ADD [COLUMN] (def, def, …)` is MySQL's parenthesized COLUMN-def
    // list (no INDEX/KEY/UNIQUE keyword and no index name) — expand to
    // one ADD COLUMN action per def so it can't be mistaken for an
    // anonymous ADD INDEX (script_queries.go "Multialter DDL with
    // ADD/DROP INDEX": ADD COLUMN (v2 int), ADD INDEX myidx (v2))
    val ColDefList =
      """(?is)^ADD\s+(?:COLUMN\s+)?\(\s*(.+)\s*\)$""".r
    val expanded = splitTop(actions).flatMap { a =>
      a.trim match {
        case ColDefList(defs)
            if !a.trim.toUpperCase.matches(
              "(?s)^ADD\\s+(UNIQUE|FULLTEXT|SPATIAL|INDEX|KEY|CONSTRAINT|PRIMARY|FOREIGN|CHECK)\\b.*") =>
          splitTop(defs).map(d => s"ADD COLUMN ${d.trim}")
        case _ => Seq(a)
      }
    }
    expanded.foreach { action0 =>
      // `ADD CONSTRAINT name UNIQUE (cols)` → canonical ADD UNIQUE form
      val action =
        if (action0.toUpperCase.matches(
            "(?s)^\\s*ADD\\s+CONSTRAINT\\s+.*\\bUNIQUE\\b.*"))
          "ADD " + canonicalKeyItem(
            action0.trim.replaceFirst("(?is)^ADD\\s+", ""))
        else action0
      action match {
        // index/constraint actions first: they'd otherwise parse as an
        // ADD COLUMN named PRIMARY/UNIQUE/INDEX
        case AddPk(cols) if e.tableDef(table).generated.exists { case (g, _) =>
            !e.colDef(table, g).stored &&
            cols.toLowerCase.matches(
              "(?s).*\\b" + java.util.regex.Pattern.quote(g) + "\\b.*") } =>
          throw new IllegalArgumentException(
            "Defining a virtual generated column as part of the primary " +
            "key is not supported (MySQL 3106)")
        case AddPk(cols) =>
          val liveType = (c: String) =>
            df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          val parts = parseKeyParts(e, table, cols, kind = "pk", liveType)
          // every pk column must exist on the statement's WORKING frame
          // — the whole multi-ALTER fails atomically otherwise
          // (script_queries.go "Multialter DDL with ADD/DROP Primary
          // Key": add primary key (notacolumn) rolls everything back)
          parts.map(_._1).foreach { c =>
            if (!df.columns.exists(_.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(
                s"key column '$c' doesn't exist in table " +
                "(MySQL ErrKeyColumnDoesNotExist)")
          }
          e.declareKey(table, parts.map(_._1))
        case AddIndex(uniq, nameOpt, cols) =>
          val liveType = (c: String) =>
            df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          val parts = parseKeyParts(e, table, cols,
            kind = if (uniq != null) "unique" else "index", liveType)
          val colSeq = parts.map(_._1)
          if (Option(nameOpt).exists(_.equalsIgnoreCase("primary")))
            throw new IllegalArgumentException(
              s"invalid index name '$nameOpt' (MySQL ErrInvalidIndexName)")
          // every plain key column must exist on the statement's WORKING
          // frame — an earlier DROP COLUMN in the same multi-ALTER makes
          // the whole statement fail atomically (script_queries.go
          // "Multialter DDL with ADD/DROP INDEX": ErrKeyColumnDoesNotExist)
          parts.map(_._1).foreach { c =>
            if (!df.columns.exists(_.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(
                s"""Key column '$c' doesn't exist in table """ +
                "(MySQL ErrKeyColumnDoesNotExist)")
          }
          // default name: first key column, deduped _2/_3 (MySQL rule)
          val takenIdx = e.tableDef(table).indexes.map(_._1.toLowerCase).toSet
          val name = Option(nameOpt).getOrElse {
            val base = colSeq.head
            if (!takenIdx(base.toLowerCase)) base
            else Iterator.from(2).map(i => s"${base}_$i")
              .find(n => !takenIdx(n.toLowerCase)).get
          }
          declareParsedKey(e, table, name, parts, unique = uniq != null)
          if (uniq != null) {
            // ADD UNIQUE validates existing rows first (MySQL 1062);
            // prefix parts probe the substring tuple
            try {
              e.validateNoDuplicates(table, name, colSeq)
              if (parts.exists(_._2.nonEmpty))
                e.enforceUniqueExprsPost(table, e.spark.table(table))
            }
            catch { case ex: Throwable => e.dropIndex(table, name); throw ex }
          }
        case a if a.toUpperCase.matches("(?s)^DROP\\s+PRIMARY\\s+KEY$") =>
          // ordinal_ddl_queries.go: the PK declaration goes away; the
          // columns stay (MySQL drops the index, not the data)
          e.alterDef(table)(_.copy(key = None))
        case DropIdx(name) =>
          // guards even with FOREIGN_KEY_CHECKS=0 ("Delayed foreign key
          // still does some validation")
          if (e.indexNeededByFk(table, stripTick(name)))
            throw new IllegalArgumentException(
              s"Cannot drop index '${stripTick(name)}': needed in a " +
              "foreign key constraint (MySQL ErrForeignKeyDropIndex)")
          val nm = stripTick(name)
          val d = e.tableDef(table)
          val known = (d.indexes ++ d.uniques ++ d.uniqueExprs)
            .exists(_._1.equalsIgnoreCase(nm)) || nm.equalsIgnoreCase("primary")
          // dropping a nonexistent index fails the WHOLE statement
          // (script_queries.go "Multialter DDL with ADD/DROP INDEX":
          // ErrCantDropFieldOrKey 1091)
          if (!known)
            throw new IllegalArgumentException(
              s"Can't DROP '$nm'; check that column/key exists " +
              "(MySQL error 1091)")
          if (nm.equalsIgnoreCase("primary")) e.alterDef(table)(_.copy(key = None))
          else e.dropIndex(table, nm)
        case a if a.toUpperCase.matches("(?s)^ADD\\s+(?:CONSTRAINT\\s+\\S+\\s+)?FOREIGN\\s+KEY\\b.*") =>
          // ADD FOREIGN KEY validates existing rows before registering
          parseFk(e, table, a.replaceFirst("(?is)^ADD\\s+", "")).foreach { fk =>
            // resolve child columns against the statement's WORKING frame
            // so `ADD COLUMN v1 ..., ADD CONSTRAINT fk (v1) ...` sees the
            // new column (CreateForeignKeyTests "Add a column then
            // immediately add a foreign key")
            e.declareForeignKey(fk, Some(df.schema.fields.toSeq))
            try e.validateForeignKeysChild(table, None, df)
            catch {
              case ex: Throwable =>
                e.dropForeignKey(table, fk.name); throw ex
            }
          }
        case a if a.toUpperCase.matches("(?s)^DROP\\s+FOREIGN\\s+KEY\\s+\\S+$") =>
          e.dropForeignKey(table,
            stripTick(a.trim.split("\\s+").last))
        case AddCheck(_) =>
          // validates existing rows BEFORE registering — a failed ADD
          // must not leave the constraint behind (MySQL semantics).
          // NOT ENFORCED constraints register catalog-only (SHOW CREATE /
          // information_schema show ENFORCED='NO') and admit violating
          // writes (check_scripts.go "basic drop check constraints").
          val notEnforced = action.toUpperCase.replaceAll("\\s+", " ")
            .trim.endsWith("NOT ENFORCED")
          extractCheck(action).foreach { case (nm, ex) =>
            val name = nm.getOrElse(
              s"${table}_chk_${e.tableDef(table).checks.size + 1}")
            if (!notEnforced) {
              val bad = e.spark.table(table)
                .filter(expr(ex).cast("boolean") === lit(false)).limit(1).count()
              if (bad > 0) throw new IllegalArgumentException(
                s"Check constraint '$name' is violated. (MySQL error 3819)")
            }
            e.declareCheck(table, name, ex, !notEnforced)
          }
        case DropCheck(name) =>
          // DROP CHECK/CONSTRAINT by name: checks first, then FK/unique
          // (MySQL's generic DROP CONSTRAINT form); an unknown name is
          // error 3940 (check_scripts.go Drop "error cases")
          val d = e.tableDef(table)
          if (d.checks.exists(_._1.equalsIgnoreCase(name)))
            e.tables(table) = d.copy(checks = d.checks.filterNot(_._1.equalsIgnoreCase(name)))
          else if (d.fks.exists(_.name.equalsIgnoreCase(name)))
            e.dropForeignKey(table, name)
          else if (d.uniques.exists(_._1.equalsIgnoreCase(name)))
            e.tables(table) = d.copy(uniques = d.uniques.filterNot(_._1.equalsIgnoreCase(name)))
          else throw new IllegalArgumentException(
            s"Constraint '$name' does not exist (MySQL error 3940)")
        case a if a.toUpperCase.matches("(?s)^AUTO_INCREMENT\\s*=?\\s*\\d+(\\.\\d+)?$") =>
          // ALTER TABLE t AUTO_INCREMENT [=] n: sets the counter, never
          // below the current next value; a no-op on tables without an
          // AUTO_INCREMENT key (insert_queries.go:1075,1107;
          // alter_table_queries.go:738)
          if (e.tableDef(table).autoInc.isDefined) {
            val v = BigDecimal(a.replaceAll("(?i)AUTO_INCREMENT|=", "").trim)
              .toLong
            val next = math.max(e.autoIncNext(table), v)
            e.alterDef(table)(_.copy(autoIncCounter = Some(next)))
          }
        case a if """(?is)^COMMENT\s*=?\s*['"].*$""".r.matches(a.trim) =>
          // ALTER TABLE t COMMENT [=] '…' replaces the table comment
          // (alter_table_queries.go "alter table comment")
          """(?is)^COMMENT\s*=?\s*('(?:\\.|''|[^'\\])*'|"(?:\\.|""|[^"\\])*")""".r
            .findFirstMatchIn(a.trim)
            .foreach(m => e.alterDef(table)(_.copy(comment = Some(unquoteSqlString(m.group(1))))))
        case a if a.trim.toUpperCase.matches("(?s)^(?:DISABLE|ENABLE)\\s+KEYS$") =>
          () // index maintenance toggles: declared keys always enforce here
        case IndexDdl() => () // metadata-only
        case Add(cn, spec) =>
          // adding an existing (or just-added) column name is 1060
          if (df.columns.exists(_.equalsIgnoreCase(stripTick(cn))))
            throw new IllegalArgumentException(
              s"Duplicate column name '${stripTick(cn)}' (MySQL 1060)")
          // literal-default compatibility (the CREATE path's 1067 rule)
          extractDefault(spec).map(_.trim).foreach { d =>
            val numericTarget = mysqlDataType(spec)._1
              .isInstanceOf[org.apache.spark.sql.types.NumericType]
            if (numericTarget && d.startsWith("'") &&
                scala.util.Try(BigDecimal(
                  d.stripPrefix("'").stripSuffix("'"))).isFailure)
              throw new IllegalArgumentException(
                s"Incompatible DEFAULT $d for numeric column " +
                s"'${stripTick(cn)}' (MySQL 1067)")
          }
          val (dt, _) = mysqlDataType(spec)
          declareColumnType(e, table, stripTick(cn), columnTypeText(spec), spec)
          // inline attributes on ADD COLUMN declare like CREATE's column
          // defs (alter_table_queries.go "add column unique index" /
          // "add column with inline check constraint definition")
          if ("""(?i)\bUNIQUE\b""".r.findFirstIn(spec).isDefined) {
            e.declareUnique(table, stripTick(cn), Seq(stripTick(cn)))
            e.declareIndex(table, stripTick(cn), Seq(stripTick(cn)))
          }
          extractCheck(spec).foreach { case (nm, ex) =>
            e.declareCheck(table, nm.getOrElse(
              s"${table}_chk_${e.tableDef(table).checks.size + 1}"),
              ex)
          }
          if ("""(?i)\bNOT\s+NULL\b""".r.findFirstIn(spec).isDefined)
            e.declareNotNull(table, stripTick(cn))
          // ADD COLUMN … PRIMARY KEY [AUTO_INCREMENT]: the new pk column
          // must be generated for existing rows (1..n); without
          // AUTO_INCREMENT a non-empty table would hold duplicate NULL
          // keys — MySQL rejects (alter_table_queries.go "Add primary
          // key column with auto increment" blocks)
          val upSpec = spec.toUpperCase
          val hasAI = upSpec.contains("AUTO_INCREMENT")
          val hasPK = upSpec.contains("PRIMARY KEY")
          if (hasPK) e.declareKey(table, Seq(stripTick(cn)))
          if (hasAI) {
            if (!hasPK && !upSpec.contains("UNIQUE"))
              throw new IllegalArgumentException(
                "there can be only one auto_increment column and it must " +
                "be defined as a key (MySQL ErrInvalidAutoIncCols)")
            e.declareAutoInc(table, stripTick(cn))
          }
          if (hasPK && !hasAI && !df.isEmpty)
            throw new IllegalArgumentException(
              s"Duplicate entry for key 'PRIMARY' (MySQL error 1062): " +
              s"adding a PRIMARY KEY column to a non-empty table needs " +
              s"AUTO_INCREMENT")
          // GENERATED ALWAYS AS: declare and compute for existing rows
          // (generated_columns.go "Add stored column first with
          // literal/expression")
          val genOpt = extractGenerated(spec)
          genOpt.foreach { g =>
            e.declareGenerated(table, stripTick(cn), g,
              """(?i)\bSTORED\b""".r.findFirstIn(spec).isDefined)
          }
          val value = extractDefault(spec) match {
            case _ if genOpt.isDefined => expr(genOpt.get).cast(dt)
            case _ if hasAI =>
              // backfill 1..n in current row order, like the reference's
              // rebuild; the counter advances past the table below
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy(monotonically_increasing_id())).cast(dt)
            case Some(d) =>
              e.declareDefault(table, stripTick(cn), d)
              expr(d).cast(dt)
            case None => lit(null).cast(dt)
          }
          // FIRST / AFTER col positioning
          val afterRe = """(?is).*\bAFTER\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*).*""".r
          val withCol = df.withColumn(stripTick(cn), value)
          df = spec match {
            case _ if spec.toUpperCase.contains("FIRST") =>
              withCol.select((col(s"`${stripTick(cn)}`") +:
                df.columns.map(c => col(s"`$c`")).toSeq): _*)
            case afterRe(a) =>
              val before = df.columns.takeWhile(_ != stripTick(a)) :+ stripTick(a)
              val rest = df.columns.drop(before.length)
              withCol.select((before.map(c => col(s"`$c`")) ++
                Seq(col(s"`${stripTick(cn)}`")) ++
                rest.map(c => col(s"`$c`"))).toSeq: _*)
            case _ => withCol
          }
          // an auto-inc backfill advances the counter past the table so
          // SHOW CREATE renders AUTO_INCREMENT=n+1 immediately
          if (hasAI) {
            val next = df.count() + 1
            e.alterDef(table)(_.copy(autoIncCounter = Some(next)))
          }
        case AlterColDefault(cn, d) =>
          // the column must exist (script_queries.go "ALTER TABLE, ALTER
          // COLUMN SET, DROP DEFAULT": ErrTableColumnNotFound)
          if (!df.columns.exists(_.equalsIgnoreCase(stripTick(cn))))
            throw new IllegalArgumentException(
              s"table '$table' does not have column '${stripTick(cn)}' " +
              "(MySQL ErrTableColumnNotFound)")
          e.declareDefault(table, stripTick(cn), d.trim)
        case AlterColDropDefault(cn) =>
          if (!df.columns.exists(_.equalsIgnoreCase(stripTick(cn))))
            throw new IllegalArgumentException(
              s"table '$table' does not have column '${stripTick(cn)}' " +
              "(MySQL ErrTableColumnNotFound)")
          e.alterCol(table, stripTick(cn))(_.copy(default = None))
        case DropCol(cn) =>
          val lc = stripTick(cn).toLowerCase
          if (!originalCols(lc) || renamedAway(lc))
            throw new IllegalArgumentException(
              s"table '$table' does not have column '${stripTick(cn)}' " +
              s"(MySQL 1054: multi-ALTER actions resolve against the " +
              s"statement-start schema)")
          // a column carrying (or referenced by) an FK cannot drop
          // (foreign_key_queries.go "DROP COLUMN parent/child")
          if (e.fkChecksEnabled && e.foreignKeys.exists(f =>
              (f.child == table && f.childCols.exists(_.equalsIgnoreCase(lc))) ||
              (f.parent == table && f.parentCols.exists(_.equalsIgnoreCase(lc)))))
            throw new IllegalArgumentException(
              s"Cannot drop column '${stripTick(cn)}': used in a foreign " +
              "key constraint (MySQL ErrForeignKeyDropColumn)")
          // a dropped column is unavailable to LATER actions in the
          // same statement ("drop column j, rename column j to k" is
          // ErrTableColumnNotFound — multi-alter ddl column errors)
          renamedAway += lc
          // CHECK constraints referencing ONLY this column drop with it;
          // a multi-column check referencing it blocks the drop
          // (alter_table_queries.go:209-330, MySQL 3959)
          val refsOf = (ex: String) =>
            try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(ex).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.name.toLowerCase
              }.toSet
            catch { case _: Exception => Set.empty[String] }
          e.tableDef(table).checks.find { c =>
            val r = refsOf(c._2); r.contains(lc) && r.exists(_ != lc)
          }.foreach { c =>
            throw new IllegalArgumentException(
              s"check constraint '${c._1}' references column " +
              s"'${stripTick(cn)}' and others; drop the constraint first " +
              s"(MySQL 3959)")
          }
          df = df.drop(stripTick(cn))
          e.alterDef(table)(d => d.dropCol(lc)
            .copy(checks = d.checks.filterNot(c => refsOf(c._2) == Set(lc))))
        case RenameCol(a, b) =>
          val lcA = stripTick(a).toLowerCase
          if (!originalCols(lcA) || renamedAway(lcA))
            throw new IllegalArgumentException(
              s"table '$table' does not have column '${stripTick(a)}' " +
              s"(MySQL 1054: multi-ALTER actions resolve against the " +
              s"statement-start schema)")
          renamedAway += lcA
          e.renameColumnDef(table, stripTick(a), stripTick(b))
          df = df.withColumnRenamed(stripTick(a), stripTick(b))
        case Modify(cn, spec) =>
          val name = stripTick(cn)
          if (!originalCols(name.toLowerCase) ||
              renamedAway(name.toLowerCase))
            throw new IllegalArgumentException(
              s"table '$table' does not have column '$name' " +
              s"(MySQL 1054: multi-ALTER actions resolve against the " +
              s"statement-start schema)")
          df = redefineColumn(e, table, name, spec, df)
        case Change(a, b, spec) =>
          // CHANGE = rename + MODIFY: the renamed column is redefined
          // whole, under the guards MODIFY applies
          val (from, to) = (stripTick(a), stripTick(b))
          if (!from.equalsIgnoreCase(to)) {
            renamedAway += from.toLowerCase
            e.renameColumnDef(table, from, to)
          }
          df = redefineColumn(e, table, to, spec,
            df.withColumnRenamed(from, to))
        case a if """(?is)^RENAME\s+CONSTRAINT\s+(?:FOREIGN\s+KEY\s+)?\S+\s+TO\s+\S+$""".r
            .matches(a.trim) =>
          // ALTER TABLE t RENAME CONSTRAINT [FOREIGN KEY] old TO new
          // (foreign_key_queries.go "rename foreign key constraints")
          val parts = a.trim.split("\\s+")
          val oldN = stripTick(parts(parts.length - 3))
          val newN = stripTick(parts.last)
          val d = e.tableDef(table)
          if (d.fks.exists(_.name.equalsIgnoreCase(oldN)))
            e.tables(table) = d.copy(fks = d.fks.map(f =>
              if (f.name.equalsIgnoreCase(oldN)) f.copy(name = newN) else f))
          else if (d.checks.exists(_._1.equalsIgnoreCase(oldN)))
            // the reference supports renaming FOREIGN KEY constraints
            // only ("rename check constraints" -> ErrUnsupportedFeature)
            throw new IllegalArgumentException(
              "renaming a CHECK constraint is not supported " +
              "(ErrUnsupportedFeature)")
          else throw new IllegalArgumentException(
            s"Constraint '$oldN' does not exist (MySQL error 3940)")
        case RenameTo(n) => renameTo = Some(stripTick(n))
        case other =>
          throw new IllegalArgumentException(s"unsupported ALTER action: $other")
      }
    }
    // the post-ALTER spec must still fit the 65535-byte row cap
    // (row_limit_queries.go "alter table t add column d VARCHAR(5000)")
    e.validateRowLength(table, df.schema)
    renameTo match {
      case Some(n) =>
        // table rename MOVES the entry (constraints, keys, defaults,
        // comments, stats) — it must not drop it with the old name
        // (alter_table_queries.go rename blocks)
        e.renameTableDef(table, n)
        e.replaceTable(n, df, bumpDepth = false)
        e.spark.catalog.dropTempView(table)
        e.refreshViews(table)
      case None => e.replaceTable(table, df, bumpDepth = true)
    }
  }

  /** ALTER TABLE … MODIFY / CHANGE: `spec` redefines column `name` of
    * `df` (after CHANGE has renamed it) from nothing, as a CREATE column
    * definition declares it, and returns the frame with the column cast
    * to the new type and placed per FIRST/AFTER. */
  private def redefineColumn(e: Engine, table: String, name: String,
                             spec: String, df0: DataFrame): DataFrame = {
    var df = df0
    val dt = applyCollation(mysqlDataType(spec)._1, spec)
    // AUTO_INCREMENT stays integer-only through MODIFY/CHANGE too
    // (script_queries.go "set with auto increment" ALTER asserts)
    if ("""(?i)\bAUTO_INCREMENT\b""".r.findFirstIn(spec).isDefined) {
      val mBase = spec.trim.toLowerCase
        .takeWhile(c => c.isLetter || c == '_')
      val autoIncOk = Set("tinyint", "smallint", "mediumint", "int",
        "integer", "bigint", "bool", "boolean", "serial")
      if (!autoIncOk(mBase))
        throw new IllegalArgumentException(
          s"Incorrect column specifier for column '$name' (MySQL 1063)")
    }
    // FK-involved columns may only lengthen within the same base
    // type (foreign_key_queries.go "MODIFY COLUMN type change"
    // blocks: INT→MEDIUMINT rejected, VARCHAR(20)→(30) allowed)
    if (e.fkChecksEnabled && e.foreignKeys.exists(f =>
        (f.child == table &&
          f.childCols.exists(_.equalsIgnoreCase(name))) ||
        (f.parent == table &&
          f.parentCols.exists(_.equalsIgnoreCase(name))))) {
      val oldField = df.schema.fields
        .find(_.name.equalsIgnoreCase(name)).get
      val oldBase = e.renderColumnType(table, oldField)
        .takeWhile(c => c.isLetter || c == '_').toLowerCase
      val newBase = spec.trim.toLowerCase
        .takeWhile(c => c.isLetter || c == '_')
      val oldLimit = e.colDef(table, name).charLimit
      val newLimit = """^[A-Za-z_]+\s*\(\s*(\d+)\s*\)""".r
        .findFirstMatchIn(spec.trim).map(_.group(1).toInt)
      val stringish =
        Set("char", "varchar", "binary", "varbinary")(newBase)
      // BinaryType renders as blob-family text, so BINARY/VARBINARY
      // re-declarations compare family-wise
      val binFam = Set("binary", "varbinary", "blob", "tinyblob",
        "mediumblob", "longblob")
      val baseOk = oldBase == newBase ||
        (binFam(oldBase) && binFam(newBase))
      val ok = baseOk && (!stringish ||
        (oldLimit.isEmpty || newLimit.exists(_ >= oldLimit.get)))
      if (!ok) throw new IllegalArgumentException(
        s"Cannot change column '$name': used in a foreign key " +
        "constraint (MySQL ErrForeignKeyTypeChange)")
    }
    // the new spec replaces the whole column definition: its
    // declared attributes rebuild from nothing, as CREATE declares
    // them, so no marker of the old type (YEAR, JSON, ENUM, …)
    // outlives it. The FK check above reads the old definition.
    e.alterCol(table, name)(_ => ColumnDef.Empty)
    declareColumnType(e, table, name, columnTypeText(spec), spec)
    recordSpecCollation(e, table, name, spec)
    // MODIFY re-validates/declares an ON UPDATE clause exactly
    // like a CREATE column def (OnUpdateExprScripts error cases)
    parseOnUpdateClause(e, table, name, spec, dt)
    extractGenerated(spec).foreach(g => e.declareGenerated(table,
      name, g, """(?i)\bSTORED\b""".r.findFirstIn(spec).isDefined))
    // MODIFY to a BLOB/TEXT family type while the column sits in
    // any prefix-less key is 1170 (blob_queries.go BlobErrors
    // "alter table mytable modify s blob")
    if (e.colDef(table, name).blobText) {
      val nl = name.toLowerCase
      val d = e.tableDef(table)
      val keyed =
        d.key.getOrElse(Seq.empty).exists(_.equalsIgnoreCase(name)) ||
        (d.uniques ++ d.indexes).exists { case (n, cs) =>
          cs.exists(_.equalsIgnoreCase(name)) && !d.indexPrefixes.contains((n, nl))
        }
      if (keyed) throw new IllegalArgumentException(
        s"blob/text column '$name' used in key specification " +
        "without a key length (MySQL 1170)")
    }
    // MODIFY without the AUTO_INCREMENT attribute REMOVES it
    // (alter_table_queries.go "ALTER TABLE remove AUTO_INCREMENT")
    if (e.tableDef(table).autoInc.exists(_.equalsIgnoreCase(name)) &&
        """(?i)\bAUTO_INCREMENT\b""".r.findFirstIn(spec).isEmpty) {
      e.alterDef(table)(_.copy(autoInc = None, autoIncCounter = None, autoIncShown = None))
    }
    // MODIFY WITH the attribute declares the counter column — an
    // `AUTO_INCREMENT = n` option later in the same statement (or
    // the next generating INSERT) then sees it ("ALTER TABLE
    // MULTI ADD/DROP COLUMN": MODIFY pk BIGINT AUTO_INCREMENT,
    // AUTO_INCREMENT = 100)
    if ("""(?i)\bAUTO_INCREMENT\b""".r.findFirstIn(spec).isDefined)
      e.declareAutoInc(table, name)
    // MODIFY may re-declare the DEFAULT and reposition the column
    // (column_default_queries.go t22/t23: MODIFY ... DEFAULT (x) FIRST)
    extractDefault(spec).foreach(d => e.declareDefault(table, name, d))
    // the full column spec re-declares nullability; an FK with a
    // SET NULL action pins the column nullable
    // (ErrForeignKeyTypeChangeSetNull)
    if ("""(?i)\bNOT\s+NULL\b""".r.findFirstIn(spec).isDefined) {
      if (e.fkChecksEnabled && e.foreignKeys.exists(f =>
          f.child == table &&
          f.childCols.exists(_.equalsIgnoreCase(name)) &&
          (f.onDelete == "SET NULL" || f.onUpdate == "SET NULL")))
        throw new IllegalArgumentException(
          s"Column '$name' backs a SET NULL foreign key action and " +
          "cannot become NOT NULL (MySQL ErrForeignKeyTypeChangeSetNull)")
      e.declareNotNull(table, name)
    }
    // integer re-declarations re-derive the UNSIGNED bound and
    // validate EXISTING rows against the new range — MODIFY i2 int
    // unsigned over a -1 value is sql.ErrValueOutOfRange
    // (script_queries.go "alter table out of range value error of
    // column type change")
    locally {
      val newBase = spec.trim.toLowerCase
        .takeWhile(c => c.isLetter || c == '_')
      val intBases = Map(
        "tinyint" -> (BigDecimal(-128), BigDecimal(127)),
        "smallint" -> (BigDecimal(-32768), BigDecimal(32767)),
        "mediumint" -> (BigDecimal(-8388608), BigDecimal(8388607)),
        "int" -> (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue)),
        "integer" -> (BigDecimal(Int.MinValue), BigDecimal(Int.MaxValue)),
        "bigint" -> (BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue)))
      if (intBases.contains(newBase)) {
        val (lo, hi) = e.colDef(table, name).unsigned
          .getOrElse(intBases(newBase))
        val oldIsNumeric = df.schema.fields
          .find(_.name.equalsIgnoreCase(name))
          .exists(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType])
        if (oldIsNumeric) {
          val bad = df.filter(col(s"`$name`") < lit(lo.underlying) ||
              col(s"`$name`") > lit(hi.underlying)).limit(1).count()
          if (bad > 0) throw new IllegalArgumentException(
            s"Out of range value for column '$name' " +
            "(MySQL error 1264, sql.ErrValueOutOfRange)")
        }
      }
    }
    df = df.withColumn(name, col(s"`$name`").cast(dt))
    val afterRe =
      """(?is).*\bAFTER\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s*$""".r
    spec match {
      case _ if spec.toUpperCase.trim.endsWith("FIRST") =>
        df.select((col(s"`$name`") +: df.columns.filter(_ != name)
          .map(c => col(s"`$c`")).toSeq): _*)
      case afterRe(a) =>
        val rest = df.columns.filter(_ != name)
        val before = rest.takeWhile(_ != stripTick(a)) :+ stripTick(a)
        val tail = rest.drop(before.length)
        df.select((before.map(c => col(s"`$c`")) ++
          Seq(col(s"`$name`")) ++ tail.map(c => col(s"`$c`"))).toSeq: _*)
      case _ => df
    }
  }

  private def filterLike(df: DataFrame, column: String,
                         like: String): DataFrame =
    if (like == null) df
    // MySQL SHOW … LIKE is case-insensitive ('aborted\_clients'
    // matches Aborted_clients; backslash escapes literal _/%)
    else df.filter(col(column).ilike(like))

  /** MySQL `SHOW … WHERE <cond>`: the condition runs through the full
    * engine pipeline (truthiness, ||-as-OR, collation) over the SHOW
    * frame registered as a scratch view. */
  private def filterWhere(e: Engine, df: DataFrame,
                          where: String): DataFrame =
    if (where == null) df
    else {
      df.createOrReplaceTempView("__graft_show__")
      try e.query(s"SELECT * FROM __graft_show__ WHERE $where")
      finally e.spark.catalog.dropTempView("__graft_show__")
    }

  /** Build the row source of an INSERT/REPLACE body: positional rename
    * without a column list, inline-table alias or rename with one. */
  /** Replace bare DEFAULT tokens in a VALUES body with the column's
    * declared default, or NULL (generated columns recompute on write
    * anyway) — MySQL's `INSERT … VALUES (1, DEFAULT)` form
    * (insert_queries.go, generated_columns.go:61). */
  private def valuesDefaults(e: Engine, table: String, cols: Seq[String],
                             body: String): String = {
    val t = body.trim
    if (!t.toUpperCase.startsWith("VALUES") ||
        """(?i)\bDEFAULT\b""".r.findFirstIn(t).isEmpty) return body
    val tuples = splitTop(t.substring("VALUES".length))
    // a DEFAULT whose declared expression references sibling columns
    // (insert_queries.go "Explicit default with column reference":
    // b int default (a+1); INSERT .. VALUES (1, DEFAULT)) cannot be
    // substituted as text inside VALUES — those positions become NULL +
    // a marker column, and a wrapping SELECT applies the expression over
    // the tuple's final values
    def refsOf(d: String): Set[String] =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(d).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name.toLowerCase
        }.toSet
      catch { case _: Exception => Set.empty }
    val refPositions = cols.zipWithIndex.collect {
      case (c, i) if e.colDef(table, c).default
        .exists(d => refsOf(d).nonEmpty) => i
    }
    val rebuilt = tuples.map { tup =>
      val inner = tup.trim.stripPrefix("(").stripSuffix(")")
      val items = splitTop(inner)
      val subbed = items.zipWithIndex.map { case (it, i) =>
        if (it.trim.equalsIgnoreCase("DEFAULT")) {
          if (refPositions.contains(i)) "NULL"
          else cols.lift(i).flatMap(c =>
            e.colDef(table, c).default).getOrElse("NULL")
        } else it
      }
      val markers = refPositions.map(i =>
        if (items.lift(i).exists(_.trim.equalsIgnoreCase("DEFAULT"))) "TRUE"
        else "FALSE")
      (subbed ++ markers).mkString("(", ", ", ")")
    }
    val values = "VALUES " + rebuilt.mkString(", ")
    if (refPositions.isEmpty) values
    else {
      val innerNames = cols ++ refPositions.map(i => s"__d_$i")
      val projs = cols.zipWithIndex.map { case (c, i) =>
        if (refPositions.contains(i)) {
          val d = e.colDef(table, c).default.get
          s"CASE WHEN `__d_$i` THEN ($d) ELSE `$c` END AS `$c`"
        } else s"`$c`"
      }
      s"SELECT ${projs.mkString(", ")} FROM ( $values ) AS " +
        s"__vd(${innerNames.map(n => s"`$n`").mkString(", ")})"
    }
  }

  /** Spark inline tables only accept foldable expressions; a VALUES
    * tuple calling a non-foldable function (JSON_OBJECT over the custom
    * expressions, uuid(), ...) re-renders as SELECT ... UNION ALL
    * (json_scripts.go:724 setup inserts JSON_OBJECT/JSON_ARRAY rows). */
  private def valuesToUnionAll(text: String): String = {
    val t = text.trim
    if (!t.toUpperCase.startsWith("VALUES")) return text
    splitTop(t.substring("VALUES".length))
      .map(tup => "SELECT " + tup.trim.stripPrefix("(").stripSuffix(")"))
      .mkString(" UNION ALL ")
  }

  private def insertSource(e: Engine, table: String, colList: String,
                           hasList: Boolean, body: String): DataFrame = {
    val target = e.spark.table(table)
    def run(values: String, wrap: String => String): DataFrame =
      try e.query(wrap(values))
      catch {
        case ex: Exception if ex.getMessage != null &&
            (ex.getMessage.contains("INVALID_INLINE_TABLE") ||
             // Spark disallows scalar subqueries in an inline VALUES
             // table; MySQL allows them (insert_queries.go issue 7322) —
             // the UNION ALL form lifts each row to a SELECT
             ex.getMessage.contains("SCALAR_SUBQUERY_IN_VALUES")) =>
          e.query(wrap(valuesToUnionAll(values)))
      }
    if (!hasList) {
      // MySQL without a column list is POSITIONAL: rename the source
      // columns to the full target schema
      val src = run(
        preGenUuids(e, table, target.columns.toIndexedSeq,
          valuesDefaults(e, table, target.columns.toIndexedSeq, body)),
        identity)
      require(src.columns.length == target.columns.length,
        s"Column count doesn't match value count (${src.columns.length} " +
        s"vs ${target.columns.length})")
      src.toDF(target.columns.toIndexedSeq: _*)
    } else {
      val names = colList.trim.stripPrefix("(").stripSuffix(")")
        .split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
      // every listed column must exist on the target (MySQL 1054;
      // replace_queries.go ReplaceErrorTests "non-existent column")
      val known = target.columns.map(_.toLowerCase).toSet
      names.find(n => !known.contains(n.toLowerCase)).foreach { bad =>
        throw new IllegalArgumentException(
          s"Unknown column '$bad' in 'field list' (MySQL error 1054)")
      }
      if (body.trim.toUpperCase.startsWith("VALUES"))
        run(preGenUuids(e, table, names,
            valuesDefaults(e, table, names, body.trim)),
          v => s"SELECT * FROM ( $v ) AS __ins ${colList.trim}")
      else e.query(body).toDF(names: _*)
    }
  }

  /** Pre-evaluate `UUID()` calls at PRIMARY-KEY positions of a VALUES
    * body: each becomes a literal generated driver-side, and the FIRST
    * one becomes LAST_INSERT_UUID() (reference uuid.go auto-uuid
    * tracking; script_queries.go "last_insert_uuid() behavior" — only
    * pk-column generation updates the session value). DEFAULT tuples
    * were already substituted with the declared default text, so a
    * `default (UUID())` pk arrives here as an explicit UUID() call. */
  private def preGenUuids(e: Engine, table: String, cols: Seq[String],
                          values: String): String = {
    val pk = e.tableDef(table).keyLower
    if (pk.isEmpty || !values.trim.toUpperCase.startsWith("VALUES") ||
        """(?i)\buuid\s*\(\s*\)""".r.findFirstIn(values).isEmpty)
      return values
    val pkPos = cols.zipWithIndex.collect {
      case (c, i) if pk(c.toLowerCase) => i
    }.toSet
    if (pkPos.isEmpty) return values
    val tuples = splitTop(values.trim.substring("VALUES".length))
    var first: Option[String] = None
    var any = false
    val rebuilt = tuples.map { tup =>
      val inner = tup.trim.stripPrefix("(").stripSuffix(")")
      splitTop(inner).zipWithIndex.map { case (it, i) =>
        if (!pkPos.contains(i)) it
        else {
          var out = it
          var m = """(?i)\buuid\s*\(\s*\)""".r.findFirstMatchIn(out)
          while (m.isDefined) {
            val u = java.util.UUID.randomUUID().toString
            if (first.isEmpty) first = Some(u)
            any = true
            out = out.substring(0, m.get.start) + s"'$u'" +
              out.substring(m.get.end)
            m = """(?i)\buuid\s*\(\s*\)""".r.findFirstMatchIn(out)
          }
          out
        }
      }.mkString("(", ", ", ")")
    }
    first.foreach(u => e.lastInsertUuidVal = u)
    if (!any) values else "VALUES " + rebuilt.mkString(", ")
  }

  /** Keep the LAST row per key of a batch that carries a pinned
    * `__iseq__` statement-order column (ODKU mints it before its dedup
    * fold — a fresh id after the fold's shuffle would not be batch
    * order). MySQL processes multi-row writes sequentially, so a later
    * duplicate wins. Keeps `__iseq__` for downstream tie-breaks. */
  private def lastPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")).toIndexedSeq: _*)
      .orderBy(col("__iseq__").desc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** INSERT ... ON DUPLICATE KEY UPDATE: an INSERT plus an UPDATE
    * (reference rowexec/insert.go:509 hands a duplicate row to the
    * updater UPDATE uses). The batch takes INSERT's image
    * (Engine.imageInsert) and is deduped on each key, the last row
    * winning. Each row then matches the existing row it duplicates: the
    * PRIMARY key first, then each UNIQUE key in declaration order, each
    * existing row matched at most once, the last row in the batch
    * winning. The matched rows take UPDATE's RowImage and checkUpdate,
    * the incoming row's columns as `__i_<c>` (what `VALUES(c)` and the
    * row alias name); the rest take INSERT's checks against the
    * post-update table. Both phases are checked before either writes.
    * MySQL affected-rows: 1 per inserted row, 2 per updated one. */
  private def upsert(e: Engine, table: String, incoming0: DataFrame,
                     assignText0: String,
                     rowAlias: Option[(String, Option[Seq[String]])] = None,
                     insertCols: Seq[String] = Seq.empty,
                     ignore: Boolean = false,
                     selectSource: Boolean = false,
                     sourceNames: Seq[String] = Seq.empty): DataFrame = {
    // MySQL matches "duplicate key" against the PRIMARY key AND every
    // declared UNIQUE key (insert_queries.go InsertDuplicateKeyKeyless:
    // keyless tables upsert through their unique indexes). With no keys
    // at all the update clause can never fire — plain INSERT.
    val keysList: Seq[Seq[String]] =
      e.tableDef(table).keys.map(_._2).distinct
    val batch = e.imageInsert(table, incoming0, fillMissing = true, ignore)
    if (keysList.isEmpty) return ok(e, e.checkInsert(batch)())
    // last-in-batch wins per EVERY declared key (not just the PK — two
    // batch rows sharing only a secondary unique key would otherwise
    // both insert), but only among rows whose key tuple is fully
    // non-null (a NULL unique tuple never collides in MySQL, so such
    // rows pass through row-for-row). __iseq__ (statement order) is
    // minted ONCE, before the per-key dedup fold: lastPerKey's window
    // shuffles by key, so an id assigned after it would no longer
    // reflect batch order. The checkpoint pins the generated ids across
    // re-evaluations.
    val coercedSeq = batch.rows
      .withColumn("__iseq__", monotonically_increasing_id())
      .localCheckpoint()
    val incomingSeq = keysList.foldLeft(coercedSeq) { (df, ks) =>
      val nonNull = ks.map(k => col(s"`$k`").isNotNull).reduce(_ && _)
      lastPerKey(df.filter(nonNull), ks)
        .unionByName(df.filter(!nonNull))
    }
    val incoming = incomingSeq.drop("__iseq__")
    val t = e.spark.table(table)
    // row-alias references rewrite onto the incoming-row (__i_)
    // namespace first: `alias.c` names incoming column c; with an alias
    // COLUMN list, its names map positionally onto the INSERT column
    // list (bare references too, unless they collide with a real table
    // column, which MySQL resolves to the table)
    val qq = java.util.regex.Pattern.quote _
    val tLast = table.split('.').last
    // per-assignment RHS alias rewrite: row-alias / source-alias /
    // join-source references become incoming-row (__i_) names
    def rewriteRhs(rhs0: String): String = rowAlias match {
      case Some((alias, colsOpt)) =>
        val cols = if (insertCols.nonEmpty) insertCols else t.columns.toSeq
        colsOpt match {
          case Some(aliasCols) if alias == null =>
            // positional mapping for join sources: any VISIBLE source
            // qualifier over a source output column; unknown qualifiers
            // stay put for the validation below
            val vis =
              if (sourceNames.nonEmpty)
                sourceNames.map(qq).mkString("(?:", "|", ")")
              else s"(?!${qq(tLast)}\\.)[A-Za-z_][A-Za-z0-9_]*"
            aliasCols.zip(cols).foldLeft(rhs0) {
              case (acc, (ac, tc)) =>
                acc.replaceAll(
                  s"(?i)(?<![.\\w])$vis\\.`?${qq(ac)}`?\\b", s"__i_$tc")
            }
          case Some(aliasCols) =>
            aliasCols.zip(cols).foldLeft(rhs0) {
              case (acc, (ac, tc)) =>
                val qualified = acc.replaceAll(
                  s"(?i)\\b${qq(alias)}\\.`?${qq(ac)}`?\\b", s"__i_$tc")
                if (t.columns.exists(_.equalsIgnoreCase(ac))) qualified
                else qualified.replaceAll(
                  s"(?i)(?<![.\\w])`?${qq(ac)}`?\\b", s"__i_$tc")
            }
          case None =>
            rhs0.replaceAll(
              s"(?i)\\b${qq(alias)}\\.`?([A-Za-z_][A-Za-z0-9_]*)`?", "__i_$1")
        }
      case None => rhs0
    }
    def stripQuoted(s: String): String =
      s.replaceAll("'(?:[^'\\\\]|\\\\.)*'", " ")
        .replaceAll("\"(?:[^\"\\\\]|\\\\.)*\"", " ")
    val srcColsLower = rowAlias.flatMap(_._2).getOrElse(Seq.empty)
      .map(_.toLowerCase).toSet
    val tcolsLower = t.columns.map(_.toLowerCase).toSet
    val assigns = splitTop(assignText0).map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"malformed ON DUPLICATE KEY UPDATE clause: $a")
      // the assignment target is always a TARGET-TABLE column: a foreign
      // qualifier on the lhs is MySQL's table-not-found (ODKU cannot
      // assign into the source — "update b.i = a.i")
      val name = a.substring(0, eq).trim.split('.')
        .map(_.stripPrefix("`").stripSuffix("`")) match {
        case Array(qual, c) =>
          if (!qual.equalsIgnoreCase(tLast))
            throw new IllegalArgumentException(
              s"table not found: $qual (MySQL ErrTableNotFound)")
          c
        case Array(c) => c
        case arr if arr.length == 3 &&
            s"${arr(0)}.${arr(1)}".equalsIgnoreCase(table) => arr(2)
        case arr => arr.last
      }
      val rhs1 = rewriteRhs(a.substring(eq + 1).trim)
        // a target-table qualifier names the EXISTING row (a.i = current
        // value) — strip it so expr() resolves on the merge frame
        .replaceAll(
          s"(?i)(?<![.\\w])`?${qq(tLast)}`?\\.`?([A-Za-z_][A-Za-z0-9_]*)`?",
          "`$1`")
        .replaceAll("(?i)\\bVALUES\\s*\\(\\s*`?([A-Za-z_][A-Za-z0-9_]*)`?\\s*\\)",
          "__i_$1")
      // SELECT-source resolution errors (insert_queries.go "insert on
      // duplicate key update errors" / "aliased subquery"): a leftover
      // qualifier is an unknown table; a bare column visible in BOTH the
      // target and the source is ambiguous.
      if (selectSource) {
        val scan = stripQuoted(rhs1)
        "(?<![.\\w`])([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*`?[A-Za-z_]".r
          .findAllMatchIn(scan).foreach { m =>
            val q0 = m.group(1).toLowerCase
            if (!q0.startsWith("__i_"))
              throw new IllegalArgumentException(
                s"table not found: ${m.group(1)} (MySQL ErrTableNotFound)")
          }
        "(?<![.\\w`])([A-Za-z_][A-Za-z0-9_]*)(?![\\w`]*\\s*[.(])".r
          .findAllMatchIn(scan).foreach { m =>
            val c0 = m.group(1).toLowerCase
            if (!c0.startsWith("__i_") && srcColsLower.contains(c0) &&
                tcolsLower.contains(c0))
              throw new IllegalArgumentException(
                s"ambiguous column name \"${m.group(1)}\" " +
                "(MySQL ErrAmbiguousColumnName)")
          }
      }
      t.columns.find(_.equalsIgnoreCase(name)).getOrElse(throw new IllegalArgumentException(
        s"Unknown column '$name' in 'field list' (MySQL error 1054)")) -> rhs1
    }
    // incoming columns renamed so assignment text can address both rows:
    // bare `c` = existing row, VALUES(c) = incoming row (as __i_c).
    // __iseq__ pins batch order; the localCheckpoints pin the generated
    // ids so every re-evaluation of the merge frames sees the same rows
    // (mono ids regenerate per evaluation otherwise).
    val i2all = incomingSeq.select((incoming.columns.map(c =>
      col(s"`$c`").as(s"__i_$c")) :+
      col("__iseq__")).toIndexedSeq: _*)
      .localCheckpoint()
    val tR = t.withColumn("__rid__", monotonically_increasing_id())
      .localCheckpoint()
    // MySQL finds the duplicate via the FIRST matching index — PK, then
    // unique keys in declaration order — so keys match with precedence:
    // each pass consumes the incoming rows it matched, and later keys
    // only see the remainder (an OR-join would update EVERY row an
    // incoming row collides with). === is null-rejecting, so NULL
    // unique tuples never collide, matching MySQL.
    var pool = i2all
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    keysList.foreach { ks =>
      def cond = ks.map(k => tR(s"`$k`") === pool(s"`__i_$k`")).reduce(_ && _)
      parts += tR.join(pool, cond, "inner")
        .select(tR("__rid__") +: pool.columns.map(c => pool(s"`$c`")): _*)
      pool = pool.join(tR, cond, "left_anti")
    }
    // one update per existing row: if several incoming rows (via
    // different keys) hit the same row, the LAST in batch order wins —
    // the same policy as the per-key batch dedup above
    val wRid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("`__rid__`")).orderBy(col("`__iseq__`").desc)
    val matched = parts.reduce(_ unionByName _)
      .withColumn("__mrn__", row_number().over(wRid))
      .filter(col("`__mrn__`") === 1)
      .drop("__mrn__", "__iseq__")
      .withColumn("__hit__", lit(true))
      .localCheckpoint()
    // the update phase: every existing row, the matched ones with their
    // incoming row beside them
    val rows = tR.join(matched, Seq("__rid__"), "left")
    val gate = Some(coalesce(col("__hit__"), lit(false)))
    val image = new RowImage(e, table, assigns, ignore)
    val nMatched = matched.count()
    val (updated, changed, writeUpdate) =
      if (nMatched == 0) (t, 0L, () => ())
      else {
        val (_, whole, after, write) = checkUpdate(e, table, image,
          frameRows(e, table, rows, gate, nMatched),
          image(rows, gate).drop(matched.columns.filter(_.startsWith("__i_")) :+ "__hit__": _*))
        // a matched row whose new values equal its old ones is not
        // affected (MySQL counts 0 for it, 2 for a changed row)
        val old = tR.join(matched.select("__rid__"), Seq("__rid__"), "left_semi")
          .select(col("__rid__") +: t.columns.map(c => col(s"`$c`").as(s"__o_$c")).toIndexedSeq: _*)
        val differs = t.columns.map(c => !(col(s"`$c`") <=> col(s"`__o_$c`"))).reduce(_ || _)
        (whole, after.join(old, Seq("__rid__")).filter(differs).count(), write)
      }
    // the insert phase: the incoming rows left after every key pass
    val inserted = pool.select(incoming.columns.map(c =>
      col(s"`__i_$c`").as(c)).toIndexedSeq: _*)
    val writeInsert = if (inserted.isEmpty) () => 0L
      else e.checkInsert(batch.copy(rows = inserted), Some(updated))
    writeUpdate()
    val nInserted = writeInsert()
    ok(e, nInserted + 2 * changed)
  }

  /** `CONSTRAINT name UNIQUE|PRIMARY KEY …` → the canonical key-item
    * form the table/ALTER parsers already handle. MySQL drops the
    * constraint name on a PK and uses it as the index name on a UNIQUE
    * when no explicit index name follows (insert_queries.go "Insert
    * throws unique key violations": CONSTRAINT col1_col2 UNIQUE KEY). */
  private[graft] def canonicalKeyItem(item: String): String = {
    val M =
      """(?is)^\s*CONSTRAINT\s+(?:`([^`]+)`|([A-Za-z0-9_]+))\s+(UNIQUE\b|PRIMARY\s+KEY\b)(.*)$""".r
    item match {
      case M(tick, bare, kw, rest) =>
        val cn = Option(tick).getOrElse(bare)
        if (kw.toUpperCase.startsWith("PRIMARY")) s"PRIMARY KEY$rest"
        else {
          val R =
            """(?is)^\s*(?:(?:KEY|INDEX)\s+)?(?:(`[^`]+`|[A-Za-z0-9_]+)\s*)?(\(.*)$""".r
          rest match {
            case R(iname, tail) =>
              val nm = Option(iname)
                .map(_.stripPrefix("`").stripSuffix("`")).getOrElse(cn)
              s"UNIQUE KEY `$nm` $tail"
            case _ => item
          }
        }
      case _ => item
    }
  }

  /** Split `ON DUPLICATE KEY UPDATE …` off an INSERT body at the top
    * level (literal- and paren-aware). */
  private def splitOnDuplicate(body: String): (String, Option[String]) = {
    var from = 0
    while (from < body.length) {
      val abs = indexOfTopLevelWord(body, "ON", from)
      if (abs < 0) return (body, None)
      val rest = body.substring(abs + 2)
      val m = "(?is)^\\s+DUPLICATE\\s+KEY\\s+UPDATE\\b(.*)$".r.findFirstMatchIn(rest)
      if (m.isDefined) return (body.substring(0, abs), Some(m.get.group(1)))
      from = abs + 2
    }
    (body, None)
  }

  private def ok(e: Engine, n: Long): DataFrame = {
    e.rowCountVal = n // ROW_COUNT() reports the last DML statement
    val s = e.spark
    import s.implicits._
    Seq(n).toDF("affected_rows")
  }

  /** UPDATE <table-references> SET <assignments> [WHERE …]: MySQL's
    * multi-table update over an arbitrary join tree (reference
    * sql/plan/update_join.go + update_queries.go join shapes: INNER /
    * LEFT / RIGHT / CROSS joins, derived-table sources, aliased
    * self-joins, assignments to MULTIPLE target tables in one
    * statement). Spark-first shape: the join tree itself runs as a
    * plain SELECT through the engine, computing each target's DISTINCT
    * (key, new values) rows; each target then merges back on its
    * declared key — no per-row execution, one shuffle per target.
    * A trailing ORDER BY is accepted and ignored (each matched row is
    * assigned once, so visit order cannot change the result).
    * affected = sum over targets of their matched row counts, the
    * reference's multi-target count. */
  /** Parse a trigger body into (ifCondition, column, valueExpr) layers.
    * Supported statement surface (the script-corpus shapes): bare
    * `SET NEW.col = expr` and `IF cond THEN SET NEW.col = expr; END IF`,
    * optionally inside BEGIN … END. NEW. qualifiers strip to bare
    * columns (the layers apply over the post-assignment row image);
    * anything else — including OLD. references — is rejected loudly. */
  private def parseTriggerBody(body0: String)
      : Seq[(Option[String], String, String)] = {
    def stripNew(t: String): String = {
      if ("""(?i)\bOLD\s*\.""".r.findFirstIn(t).isDefined)
        throw new IllegalArgumentException(
          "unsupported trigger body: OLD.<col> references")
      t.replaceAll("(?i)\\bNEW\\s*\\.\\s*", "").trim
    }
    var b = body0.trim.stripSuffix(";").trim
    if (b.toUpperCase.startsWith("BEGIN")) {
      if (!b.toUpperCase.endsWith("END"))
        throw new IllegalArgumentException(
          s"unsupported trigger body: ${b.take(60)}")
      b = b.substring(5, b.length - 3)
    }
    // ';' splits statements, but an IF … THEN … ; END IF block spans
    // one — reassemble pieces until the block closes
    val pieces = splitTop(b, ';')
    val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
    var acc = ""
    pieces.foreach { p =>
      val joined = if (acc.isEmpty) p else s"$acc; $p"
      val opens = """(?i)^IF\b""".r.findFirstIn(joined).isDefined
      val closed = """(?i)\bEND\s+IF$""".r.findFirstIn(joined).isDefined
      if (opens && !closed) acc = joined
      else { stmts += joined; acc = "" }
    }
    if (acc.nonEmpty) stmts += acc
    val SetNew =
      """(?is)^SET\s+NEW\s*\.\s*(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$""".r
    val IfSet =
      ("""(?is)^IF\s+(.+?)\s+THEN\s+SET\s+NEW\s*\.\s*""" +
        """(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*;?\s*END\s+IF$""").r
    stmts.toSeq.map {
      case IfSet(cond, c, ex) =>
        (Some(stripNew(cond)), stripTick(c.trim), stripNew(ex))
      case SetNew(c, ex) =>
        (None, stripTick(c.trim), stripNew(ex))
      case other => throw new IllegalArgumentException(
        s"unsupported trigger body statement: ${other.take(60)}")
    }
  }

  /** The table's BEFORE triggers on `event` (INSERT, UPDATE, DELETE). */
  private[graft] def beforeTriggers(e: Engine, table: String, event: String): Seq[Trigger] =
    e.tableDef(table).triggers.filter(t => t.timing == "BEFORE" && t.event == event)

  /** Fold the table's BEFORE `event` trigger layers over the row image
    * (after INSERT's fill, or UPDATE's assignments), gated to the
    * matched rows. Declaration order; each layer sees the values the
    * previous layers produced (reference rowexec trigger iteration). */
  private[graft] def applyBeforeTriggers(e: Engine, table: String, event: String,
      df: DataFrame, gate: org.apache.spark.sql.Column): DataFrame = {
    val trgs = beforeTriggers(e, table, event)
    if (trgs.isEmpty) return df
    val actual = df.columns.map(c => c.toLowerCase -> c).toMap
    trgs.foldLeft(df) { (d, trg) =>
      trg.actions.foldLeft(d) { case (dd, (condOpt, c0, ex)) =>
        val c = actual.getOrElse(c0.toLowerCase,
          throw new IllegalArgumentException(
            s"Unknown column '$c0' in trigger '${trg.name}'"))
        val dt = dd.schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
        // MySQL truthiness for the IF gate: numeric non-zero
        val cond = condOpt.map(ct =>
          coalesce(expr(ct).cast("boolean"), lit(false))).getOrElse(lit(true))
        dd.withColumn(c,
          when(gate && cond, expr(ex).cast(dt)).otherwise(col(s"`$c`")))
      }
    }
  }

  private def updateJoin(e: Engine, refsText: String, rest: String,
                         ignore: Boolean = false): DataFrame = {
    val (head, _) = splitOrderLimit(rest)
    val (assignText, whereOpt) = splitWhere(head)
    val whereSql = whereOpt.map(w => s" WHERE $w").getOrElse("")
    // alias -> table map over the reference list (same scan deleteJoin
    // uses); stray matches from inside derived-table bodies are culled
    // by the catalog probe below
    val kw = "(?i)JOIN|ON|WHERE|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|OUTER|USING|AS|SET"
    val srcRe =
      (s"""(?i)(?:^|\\bJOIN\\s+|,\\s*)`?([A-Za-z_][A-Za-z0-9_]*)`?""" +
        s"""(?:\\s+(?:AS\\s+)?(?!(?:$kw)\\b)`?([A-Za-z_][A-Za-z0-9_]*)`?)?""").r
    val aliasMap = srcRe.findAllMatchIn(refsText).map { m =>
      val tbl = m.group(1)
      (Option(m.group(2)).getOrElse(tbl).toLowerCase, tbl)
    }.toMap
    def tableCols(t: String): Option[Seq[String]] =
      scala.util.Try(e.spark.table(t).columns.toSeq).toOption

    // assignments: [alias.]col = expr; an unqualified column must be
    // unambiguous among the referenced tables (MySQL resolution)
    val assigns = splitTop(assignText).map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"malformed SET clause: $a")
      val lhs = a.substring(0, eq).trim
      val ex = a.substring(eq + 1).trim
      val parts = lhs.split('.').map(_.trim.stripPrefix("`").stripSuffix("`"))
      parts match {
        case Array(q, c) =>
          val alias = q.toLowerCase
          if (!aliasMap.contains(alias) ||
              tableCols(aliasMap(alias)).isEmpty)
            throw new IllegalArgumentException(
              s"The target table $q of the UPDATE is not updatable")
          (alias, c, ex)
        case Array(c) =>
          val owners = aliasMap.toSeq.filter { case (_, t) =>
            tableCols(t).exists(_.exists(_.equalsIgnoreCase(c)))
          }
          owners match {
            case Seq((alias, _)) => (alias, c, ex)
            case Seq() => throw new IllegalArgumentException(
              s"Unknown column '$c' in 'field list'")
            case _ => throw new IllegalArgumentException(
              s"Column '$c' in field list is ambiguous")
          }
        case _ => throw new IllegalArgumentException(
          s"unsupported assignment target: $lhs")
      }
    }

    // every target's rows and image are planned against the PRE-update
    // state (the analyzed plans bind the current view subtrees, so later
    // view swaps don't leak into them)
    val work = assigns.groupBy(_._1).toSeq.map { case (alias, as) =>
      val table = aliasMap(alias)
      val t = e.spark.table(table)
      val actual = t.columns.map(c => c.toLowerCase -> c).toMap
      val asResolved = as.map { case (_, c, ex) =>
        actual.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
          s"Unknown column '$c' in 'field list'")) -> ex
      }
      val key = e.tableDef(table).key.getOrElse(t.columns.toSeq)
      val keySel = key.map(k => s"`$alias`.`$k` AS `__key_$k`")
      val newCols = asResolved.map { case (c, _) => s"__new_$c" }.distinct
      val newSel = asResolved.map { case (c, ex) => s"($ex) AS `__new_$c`" }
      // OUTER-join rows where this target side is absent carry NULL
      // keys: they match no real row and must not count as matched
      val allNullKey = key.map(k => col(s"`__key_$k`").isNull).reduce(_ && _)
      // a target row with several join matches is updated ONCE, from the
      // "first" match (MySQL leaves which one unspecified; the reference
      // iterates source order — update_queries.go pins an ORDER BY'd
      // derived source). Deterministic pick: smallest new-value tuple.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key.map(k => col(s"`__key_$k`")).toIndexedSeq: _*)
        .orderBy(newCols.map(c => col(s"`$c`").asc_nulls_first).toIndexedSeq: _*)
      val updates = e.query(
        s"SELECT DISTINCT ${(keySel ++ newSel).mkString(", ")} " +
          s"FROM $refsText$whereSql")
        .filter(!allNullKey)
        .withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") === 1).drop("__rn__")
        .withColumn("__hit__", lit(true))
      // the table's rows, each with its join match's new values as the
      // assignments' source; NULL-safe on the key, as a keyless table's
      // key is every column, NULLs included
      val rows = t.withColumn("__rid__", monotonically_increasing_id())
        .join(updates,
          key.map(k => col(s"`$k`") <=> col(s"`__key_$k`")).reduce(_ && _), "left")
        .select((t.columns.toSeq ++ Seq("__rid__") ++ newCols :+ "__hit__")
          .map(c => col(s"`$c`")): _*)
      val gate = Some(coalesce(col("__hit__"), lit(false)))
      val image = new RowImage(e, table,
        asResolved.map { case (c, _) => c -> s"`__new_$c`" }, ignore)
      (table, image, frameRows(e, table, rows, gate, updates.count()),
        image(rows, gate).drop(newCols :+ "__hit__": _*))
    }
    // every target is checked before any is written, so a failing target
    // leaves every table untouched (update_queries.go "UPDATE join with
    // FK constraint" scripts)
    val checked = work.map { case (table, image, rows, img) =>
      checkUpdate(e, table, image, rows, img)
    }
    checked.foreach(_._4())
    // rows matched; UPDATE IGNORE … JOIN reports the rows it updated
    // (update_queries.go:441 UpdateInfo{Matched:4, Updated:1})
    val n = work.map(_._3.matched).sum - checked.map(_._1).sum
    e.foundRowsSet(n)
    ok(e, n)
  }

  /** The post-update row image of one table's write, the one image
    * every UPDATE form and ON DUPLICATE KEY UPDATE's update phase build:
    * `assigns` are (column, SQL expression) in statement order. In
    * order, the image applies
    *  - the assignments LEFT TO RIGHT, each seeing the values the ones
    *    before it produced (update_queries.go:59-63: `SET f32 = f32 +
    *    f32, f64 = f32 * f64` multiplies by the NEW f32), each through
    *    its column's write conversion (Engine.writeConversion, the one
    *    INSERT takes), whose failure flags `settle` raises or warns;
    *  - the table's BEFORE UPDATE triggers;
    *  - ON UPDATE CURRENT_TIMESTAMP stamps;
    *  - generated columns, then ENUM index coercion.
    */
  private final class RowImage(e: Engine, table: String,
      assigns0: Seq[(String, String)], val ignore: Boolean) {
    val strict: Boolean = !ignore && e.strictWriteMode
    private val schema = e.spark.table(table).schema
    private val colTypes = schema.fields.map(f => f.name -> f.dataType).toMap
    // direct assignment to a generated column is MySQL error 3105 —
    // except `SET g = DEFAULT`, which just recomputes (issue #9438
    // shape in generated_columns.go); DEFAULT on a plain column takes
    // its declared default (or NULL)
    private val assigns = assigns0.flatMap { case (c, ex) =>
      val isGenerated = e.tableDef(table).isGenerated(c)
      if (ex.trim.equalsIgnoreCase("DEFAULT")) {
        if (isGenerated) None // computeGenerated recomputes it
        else Some(c -> e.colDef(table, c).default.getOrElse("NULL"))
      } else if (isGenerated)
        throw new IllegalArgumentException(
          s"The value specified for generated column '$c' in table " +
          s"'$table' is not allowed. (MySQL error 3105)")
      else Some(c -> ex)
    }
    // ON UPDATE CURRENT_TIMESTAMP: unassigned on-update columns take the
    // statement clock on rows whose assigned values actually CHANGE
    // (update_queries.go OnUpdateExprScripts; a same-value assignment
    // updates nothing, dolt issue 10657). The original assigned values
    // ride along as __orig_* so change detection is row-local.
    private val assigned = assigns.map(_._1).distinct
    private val onUpdCols = e.tableDef(table).columns.toSeq.collect {
      case (cl, cd) if cd.onUpdate.isDefined &&
          !assigned.exists(_.equalsIgnoreCase(cl)) &&
          schema.fieldNames.exists(_.equalsIgnoreCase(cl)) =>
        (schema.fieldNames.find(_.equalsIgnoreCase(cl)).get, cd.onUpdate.get)
    }
    // the columns the statement writes, whose NULLs settle checks
    private val written = (assigned ++ beforeTriggers(e, table, "UPDATE")
      .flatMap(_.actions.map(_._2))).map(_.toLowerCase).toSet

    /** The image of `base` (the table's columns and `__rid__`): rows
      * outside `gate` keep their values. A gate is taken from the
      * original row and kept as `__upd__`. */
    def apply(base: DataFrame, gate: Option[Column]): DataFrame = {
      val upd = gate.map(_ => col("__upd__"))
      val updated = upd.getOrElse(lit(true))
      def keep(c: String, v: Column) = upd.fold(v)(when(_, v).otherwise(col(s"`$c`")))
      val snap = gate.map("__upd__" -> _).toMap ++ (if (onUpdCols.isEmpty) Map.empty
        else assigned.map(c => s"__orig_$c" -> col(s"`$c`")).toMap)
      val start = if (snap.isEmpty) base else base.withColumns(snap)
      // each assignment's source type; an earlier assignment keeps its
      // column's type, so one analysis over the original row serves all
      val srcTypes = if (assigns.isEmpty) Seq.empty
        else start.select(assigns.map(a => expr(a._2)): _*).schema.map(_.dataType)
      val image = assigns.zip(srcTypes).foldLeft(start) { case (d, ((c, ex), src)) =>
        val (v, flags) = e.writeConversion(table, c, expr(ex), src, colTypes(c),
          lenient = !strict, gate = updated)
        d.withColumns((flags.map { case (f, cond) =>
          f -> (if (d.columns.contains(f)) coalesce(col(s"`$f`"), cond) else cond)
        } :+ (c -> keep(c, v))).toMap)
      }
      val triggered = applyBeforeTriggers(e, table, "UPDATE", image, updated)
      val stamped =
        if (onUpdCols.isEmpty) triggered
        else {
          val changed = assigned.map(c =>
            !(col(s"`$c`") <=> col(s"`__orig_$c`"))).reduce(_ || _)
          onUpdCols.foldLeft(triggered) { case (d, (c, p)) =>
            d.withColumn(c, when(changed, e.nowColumn(p).cast(colTypes(c)))
              .otherwise(col(s"`$c`")))
          }.drop(assigned.map(c => s"__orig_$c"): _*)
        }
      e.coerceVocab(table, e.computeGenerated(table, stamped))
    }

    /** `image` with its flags settled (Engine.settleWrite) over the
      * updated rows: strict, the first failure is MySQL's error;
      * otherwise each value coerces with its warning. */
    def settle(image: DataFrame): DataFrame =
      e.settleWrite(table, image, strict,
        gateCol = Some("__upd__").filter(image.columns.contains), written = written)
  }

  /** The rows an UPDATE form feeds to its image: `before` holds the
    * table's columns and a `__rid__` that aligns each row with its image
    * (ON UPDATE CASCADE maps old keys to new keys through it), `gate`
    * selects the `matched` rows to update (None: all of them), and
    * `whole` turns the checked post-update rows into the whole
    * post-update table and the write that stores it. */
  private final case class UpdateRows(before: DataFrame, gate: Option[Column],
      matched: Long, whole: DataFrame => (DataFrame, () => Unit))

  /** A driver-held table's matched rows, their positions as `__rid__`;
    * each image replaces its row in place (Engine.updatedGeneration). */
  private def storedRows(e: Engine, table: String, m: Engine.StoredMatch): UpdateRows =
    UpdateRows(e.matchedFrame(table, m), None, m.matched.size.toLong, { after =>
      val updated = e.updatedGeneration(table, m, after)
      (e.storedFrame(table, updated), () => e.storeGeneration(table, updated))
    })

  /** Every row of `rows`, `gate` selecting the `matched` ones to update;
    * the post-update rows become the table's contents. */
  private def frameRows(e: Engine, table: String, rows: DataFrame,
      gate: Option[Column], matched: Long): UpdateRows =
    UpdateRows(rows, gate, matched, { after =>
      val newDf = after.drop("__rid__")
      (newDf, () => e.replaceTable(table, newDf, bumpDepth = true))
    })

  /** The `__rid__`s of the rows of `rows` that `[WHERE …] ORDER BY …
    * LIMIT …` picks. The pick runs through the front door, with `rows`
    * under the table's name as alias, so ORDER BY and LIMIT … OFFSET
    * read as in a SELECT. */
  private def orderedIds(e: Engine, table: String, rows: DataFrame,
      gate: Option[Column], orderLimit: String): Array[Long] = {
    val view = "__update_rows__"
    gate.fold(rows)(rows.filter).createOrReplaceTempView(view)
    try e.query(s"SELECT `__rid__` FROM `$view` AS ${tick(table.split('.').last)} $orderLimit")
      .collect().map(_.getLong(0))
    finally e.spark.catalog.dropTempView(view)
  }

  /** The one check-then-write sequence of every UPDATE form, over one
    * table's rows and their image (RowImage, flags not yet settled):
    *  - the flags settle (RowImage.settle);
    *  - UPDATE IGNORE keeps the old values of each updated row that fails
    *    a CHECK (1105) or a foreign key (1452), then of each row whose
    *    new key collides, in key order (1062, Engine.ignoreKeySkips),
    *    each with a warning (reference sql/rowexec/update.go:150);
    *  - the post-update table must pass: ENUM/SET vocabulary (strict),
    *    CHECK constraints (3819), foreign keys of the changed rows
    *    (1452), PRIMARY and UNIQUE keys (1062), the row-ordered transient
    *    key collisions (strict), unique expression indexes.
    * Returns the number of rows kept at their old values, the whole
    * post-update table, the checked rows with their `__rid__`, and the
    * write: ON UPDATE actions on child tables, then the store. Nothing
    * is written before the write runs. */
  private def checkUpdate(e: Engine, table: String, image: RowImage,
      rows: UpdateRows, img: DataFrame): (Long, DataFrame, DataFrame, () => Unit) = {
    var after = image.settle(img)
    var kept = Set.empty[Long]
    if (image.ignore) {
      val updated = Some(col("__upd__")).filter(_ => after.columns.contains("__upd__"))
        .getOrElse(lit(true))
      def keepOld(rids: Set[Long]): Unit = if (rids.nonEmpty) {
        val hit = col("__rid__").isin(rids.toSeq: _*)
        after = after.filter(!hit).unionByName(rows.before.filter(hit).select(
          after.columns.map(c =>
            if (c == "__upd__") lit(false).as(c) else col(s"`$c`")).toIndexedSeq: _*))
          .orderBy("__rid__")
        kept ++= rids
      }
      def failing(bad: DataFrame, code: Int, msg: String): Unit = {
        val rids = bad.select("__rid__").collect().map(_.getLong(0)).toSet -- kept
        if (rids.nonEmpty) e.warnN(rids.size, code, msg)
        keepOld(rids)
      }
      e.tableDef(table).checks.collect { case (_, ex, true) => ex }
        .foreach { ex =>
          failing(after.filter(updated && !coalesce(expr(ex).cast("boolean"), lit(true))),
            1105, "check constraint violated (row kept old values)")
        }
      e.fkChildViolations(table, Some(rows.before), after).foreach { case (fk, bad) =>
        failing(bad, 1452, "Cannot add or update a child row: a foreign key " +
          s"constraint fails (`$table`, CONSTRAINT `${fk.name}`)")
      }
      keepOld(e.ignoreKeySkips(table, e.spark.table(table), Some(rows.before), after))
    }
    if (after.columns.contains("__upd__")) after = after.drop("__upd__")
    val (newDf, write) = rows.whole(after)
    if (image.strict) e.validateVocab(table, newDf)
    e.validateChecks(table, newDf)
    e.validateForeignKeysChild(table, Some(rows.before), after)
    e.enforcePkUniquePost(table, newDf)
    if (image.strict) e.enforcePkUniqueTransient(table, rows.before, after)
    e.enforceUniqueExprsPost(table, newDf)
    (kept.size.toLong, newDf, after, () => {
      e.enforceParentUpdate(table, rows.before, after, newTable = Some(newDf))
      write()
    })
  }

  /** DELETE t1[, t2] FROM <sources> [WHERE …]: rows of each target that
    * appear in the joined match are removed (left-anti on the target's
    * declared key); affected = matched join rows, the reference's count
    * (delete_queries.go:160-178). */
  private def deleteJoin(e: Engine, targetsText: String, rest: String): DataFrame = {
    val (srcText, whereOpt) = splitWhere(rest)
    val whereSql = whereOpt.map(w => s" WHERE $w").getOrElse("")
    // alias -> table map from the FROM sources (`name [AS alias]` after
    // start / JOIN / comma; keywords excluded from the alias slot)
    val kw = "(?i)JOIN|ON|WHERE|INNER|LEFT|RIGHT|FULL|CROSS|NATURAL|USING|AS"
    val srcRe =
      (s"""(?i)(?:^|\\bJOIN\\s+|,\\s*)`?([A-Za-z_][A-Za-z0-9_]*)`?""" +
        s"""(?:\\s+(?:AS\\s+)?(?!(?:$kw)\\b)`?([A-Za-z_][A-Za-z0-9_]*)`?)?""").r
    val aliasMap = srcRe.findAllMatchIn(srcText).map { m =>
      val table = m.group(1)
      val alias = Option(m.group(2)).getOrElse(table)
      alias.toLowerCase -> table
    }.toMap
    val matched = e.query(s"SELECT COUNT(*) FROM $srcText$whereSql")
      .collect()(0).getLong(0)
    // two phases: plan every target's surviving rows against the
    // PRE-delete state, then swap the views — the first replacement must
    // not empty the join source the second target's match reads
    val targetNames = targetsText.split(",")
      .map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
    // a table named twice in the target list is MySQL error 1066
    // (delete_queries.go "DELETE FROM JOIN error cases")
    targetNames.map(_.toLowerCase).groupBy(identity).collectFirst {
      case (n, occ) if occ.size > 1 => n
    }.foreach { dup =>
      throw new IllegalArgumentException(
        s"Not unique table/alias: '$dup' (MySQL error 1066)")
    }
    val work = targetNames
      .map { alias =>
        val table = aliasMap.getOrElse(alias.toLowerCase,
          throw new IllegalArgumentException(
            s"Unknown table '$alias' in MULTI DELETE"))
        val t = e.spark.table(table)
        val key = e.tableDef(table).key.getOrElse(t.columns.toSeq)
        val sel = key.map(k => s"`$alias`.`$k` AS `$k`").mkString(", ")
        val hit = e.query(s"SELECT DISTINCT $sel FROM $srcText$whereSql")
        // the analyzed plans bind the current view subtrees, so the
        // later view swaps don't leak into these lazy reads
        (table, t.join(hit, key.toSeq, "left_anti"))
      }
    work.foreach { case (table, kept) =>
      val finalKept = e.enforceParentDelete(table, kept)
      e.replaceTable(table, finalKept, bumpDepth = true)
    }
    ok(e, matched)
  }

  private def splitWhere(s: String): (String, Option[String]) = {
    val i = indexOfTopLevelWord(s, "WHERE")
    if (i < 0) (s, None)
    else (s.substring(0, i), Some(s.substring(i + 5)))
  }

  /** Split a trailing top-level `ORDER BY …` / `LIMIT …` clause pair off
    * a DML statement tail (MySQL UPDATE/DELETE ordering + row caps). */
  private def splitOrderLimit(s: String): (String, Option[String]) = {
    val io = indexOfTopLevelWord(s, "ORDER")
    val il = indexOfTopLevelWord(s, "LIMIT")
    val i = (io, il) match {
      case (-1, -1) => -1
      case (-1, b) => b
      case (a, -1) => a
      case (a, b) => math.min(a, b)
    }
    if (i < 0) (s, None) else (s.substring(0, i), Some(s.substring(i)))
  }

  private def topLevelIndexOf(s: String, ch: Char): Int =
    scanTop(s)((i, c, d) => if (d == 0 && c == ch) i else -1)

}
