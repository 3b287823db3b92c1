package graft

import scala.collection.immutable.VectorMap

/** One column's declared surface: everything a CREATE/ALTER declares
  * about it that the stored Spark type cannot carry (reference
  * sql/column.go:54 sql.Column holds a column's declared attributes in
  * one struct). Every field's absence is the undeclared default.
  *
  *  - `default`: the DEFAULT expression as SQL text, evaluated per batch
  *  - `notNull`: declared NOT NULL (Spark's inferred nullability is
  *    unreliable: a CTAS from literals infers NOT NULL)
  *  - `charLimit` / `fixedChar`: the declared CHAR/VARCHAR(n) length, and
  *    whether the keyword was CHAR
  *  - `vocab`: an ENUM (false) or SET (true) and its members; `vocabCi`:
  *    the column collation is case-insensitive, so member matching is too
  *  - `unsigned`: the declared UNSIGNED integer bounds (Spark has no
  *    unsigned types; storage widens)
  *  - `year`: writes coerce through the two-digit year window
  *  - `json`: writes canonicalize into MySQL's sorted-key JSON form
  *  - `textKind`: tinytext/text/mediumtext/longtext, or the mediumint
  *    marker; `blobText`: an unbounded BLOB/TEXT type, keyed only with a
  *    prefix (MySQL 1170) except by the no-prefix UNIQUE the reference
  *    allows (index_queries.go "unique indexes on TEXT/BLOB columns")
  *  - `bitWidth`: BIT(n), catalog render only
  *  - `binPad`: a fixed BINARY(n) width, writes zero-pad to n bytes
  *  - `onUpdate`: ON UPDATE CURRENT_TIMESTAMP(p); `timePrecision`: the
  *    DATETIME(p)/TIMESTAMP(p) fractional digits (1-6) writes round to
  *  - `tinyint1`: the tinyint(1) display width, the one MySQL preserves
  *  - `vecDim`: a VECTOR(n) dimension, -1 for a vector with none
  *  - `wideDec`: DECIMAL(p, s) with p > 38 (Spark caps at 38), stored as
  *    canonical fixed-scale text (functions.WideDecimal)
  *  - `collation` / `comment`: the declared COLLATE name and COMMENT, for
  *    the catalog render
  *  - `generated` / `stored`: GENERATED ALWAYS AS (expr) [STORED]
  */
final case class ColumnDef(
    default: Option[String] = None,
    notNull: Boolean = false,
    charLimit: Option[Int] = None,
    fixedChar: Boolean = false,
    vocab: Option[(Boolean, Seq[String])] = None,
    vocabCi: Boolean = false,
    unsigned: Option[(BigDecimal, BigDecimal)] = None,
    year: Boolean = false,
    json: Boolean = false,
    blobText: Boolean = false,
    textKind: Option[String] = None,
    bitWidth: Option[Int] = None,
    binPad: Option[Int] = None,
    onUpdate: Option[Int] = None,
    timePrecision: Option[Int] = None,
    tinyint1: Boolean = false,
    vecDim: Option[Int] = None,
    wideDec: Option[(Int, Int)] = None,
    collation: Option[String] = None,
    comment: Option[String] = None,
    generated: Option[String] = None,
    stored: Boolean = false)

object ColumnDef {
  val Empty: ColumnDef = ColumnDef()

  /** An ENUM/SET column as (isSet, members, case-insensitive). */
  object Vocab {
    def unapply(cd: ColumnDef): Option[(Boolean, Seq[String], Boolean)] =
      cd.vocab.map { case (isSet, members) => (isSet, members, cd.vocabCi) }
  }
}

/** A row-level trigger (reference sql/plan/triggers.go). The supported
  * body is SET NEW.col = expr layers, optionally IF-gated: `actions` are
  * (ifCondition, column, valueExpr) with NEW./OLD. already stripped. */
final case class Trigger(name: String, timing: String, event: String,
    actions: Seq[(Option[String], String, String)])

/** One table's declared definition, held once per table in
  * `Engine.tables` (the reference's memory table owns its schema,
  * memory/table.go:48). DROP removes the entry, RENAME moves it, ALTER
  * rollback puts the old value back, CREATE … LIKE copies it.
  *
  *  - `columns`: per-column declarations keyed by lower-cased name, in
  *    declaration order (chained generated columns compute in it)
  *  - `key`: the PRIMARY KEY columns; `uniques` and `indexes`: (name,
  *    columns) of UNIQUE and secondary indexes; `uniqueExprs`: (name,
  *    expression) probes of unique expression/prefix indexes;
  *    `indexPrefixes`: (index, lower column) → prefix length
  *  - `autoInc`: the AUTO_INCREMENT column, `autoIncCounter` its next
  *    value (monotonic: it survives deletes), `autoIncShown` the exact
  *    value past Long range (the counter saturates)
  *  - `checks`: (name, expression, enforced); `fks`: the foreign keys
  *    this table is the child of
  *  - `stats`: ANALYZE histograms per lower-cased column, as JSON
  */
final case class TableDef(
    columns: VectorMap[String, ColumnDef] = VectorMap.empty,
    key: Option[Seq[String]] = None,
    uniques: Seq[(String, Seq[String])] = Vector.empty,
    uniqueExprs: Seq[(String, String)] = Vector.empty,
    indexes: Seq[(String, Seq[String])] = Vector.empty,
    indexPrefixes: Map[(String, String), Int] = Map.empty,
    autoInc: Option[String] = None,
    autoIncCounter: Option[Long] = None,
    autoIncShown: Option[BigDecimal] = None,
    checks: Seq[(String, String, Boolean)] = Vector.empty,
    fks: Seq[Engine.ForeignKey] = Vector.empty,
    triggers: Seq[Trigger] = Vector.empty,
    stats: VectorMap[String, String] = VectorMap.empty,
    charset: Option[String] = None,
    collation: Option[String] = None,
    comment: Option[String] = None) {

  def col(column: String): ColumnDef =
    columns.getOrElse(column.toLowerCase, ColumnDef.Empty)

  def withCol(column: String)(f: ColumnDef => ColumnDef): TableDef =
    copy(columns = columns.updated(column.toLowerCase, f(col(column))))

  /** (column, expression) of the generated columns, in declaration order. */
  def generated: Seq[(String, String)] =
    columns.toSeq.collect { case (c, d) if d.generated.isDefined => (c, d.generated.get) }

  def isGenerated(column: String): Boolean = col(column).generated.isDefined

  /** The PRIMARY key and every UNIQUE key as (name, columns, NULL-keyed
    * rows exempt): only UNIQUE keys exempt a row with a NULL key column. */
  def keys: Seq[(String, Seq[String], Boolean)] =
    key.map(k => ("PRIMARY", k, false)).toSeq ++ uniques.map { case (n, c) => (n, c, true) }

  /** The key columns, lower-cased, of the PRIMARY key. */
  def keyLower: Set[String] = key.getOrElse(Seq.empty).map(_.toLowerCase).toSet

  /** RENAME/CHANGE COLUMN: the column's declarations, key and index
    * memberships, index prefix lengths and AUTO_INCREMENT follow the new
    * name, in place. */
  def renameCol(from: String, to: String): TableDef = {
    def ren(c: String): String = if (c.equalsIgnoreCase(from)) to else c
    val fl = from.toLowerCase
    copy(
      columns = columns.map { case (c, d) => (if (c == fl) to.toLowerCase else c) -> d },
      key = key.map(_.map(ren)),
      uniques = uniques.map { case (n, cs) => (n, cs.map(ren)) },
      indexes = indexes.map { case (n, cs) => (n, cs.map(ren)) },
      indexPrefixes = indexPrefixes.map { case ((n, c), l) =>
        (n, if (c == fl) to.toLowerCase else c) -> l },
      autoInc = autoInc.map(ren),
      stats = stats.map { case (c, h) => (if (c == fl) to.toLowerCase else c) -> h })
  }

  /** CREATE TABLE … LIKE: this definition without its foreign keys
    * (MySQL LIKE never copies them), triggers, counter or statistics. */
  def likeCopy: TableDef = copy(fks = Vector.empty, triggers = Vector.empty,
    autoIncCounter = None, autoIncShown = None, stats = VectorMap.empty)

  /** DROP COLUMN: the column's declarations and histogram go with it. */
  def dropCol(column: String): TableDef =
    copy(columns = columns - column.toLowerCase, stats = stats - column.toLowerCase)
}

object TableDef {
  val Empty: TableDef = TableDef()
}
