package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** SQL-text `WITH RECURSIVE` support — SURVEY.md §2.9 (reference parses
  * recursive CTEs in sql/planbuilder/cte.go:87 and executes them as a
  * working-table loop in sql/plan/recursive_cte.go).
  *
  * Spark's parser has no recursive CTEs, so the dialect layer intercepts
  * the statement shape
  *
  *   WITH RECURSIVE name [(col, ...)] AS ( term UNION [ALL] term ... ) outer
  *
  * splits the body into anchor terms (no self-reference) and recursive
  * terms (self-referencing), and drives [[RecursiveCte]]'s semi-naive
  * iteration: each step re-binds `name` as a temp view over the previous
  * delta and re-plans the recursive terms. UNION => distinct semantics,
  * UNION ALL => bag semantics (any plain UNION separator makes the whole
  * CTE distinct, matching MySQL). The parse is literal- and paren-aware;
  * statements that don't match the shape return None and flow to Spark
  * unchanged.
  */
object RecursiveSql {

  /** Reference cteRecursionLimit (sql/rowexec/rel_iters.go:549): 10001
    * cycles, then ErrCteRecursionLimitExceeded. */
  private val MaxDepth = 10001

  /** Split `body` on top-level UNION [ALL|DISTINCT]; returns the terms and
    * whether every separator was UNION ALL. */
  private def splitUnions(body: String): (Seq[String], Boolean) = {
    val terms = Seq.newBuilder[String]
    var allBag = true
    var start = 0
    var i = graft.SqlRewrite.indexOfTopLevelWord(body, "UNION")
    while (i >= 0) {
      terms += body.substring(start, i)
      i += 5
      val rest = body.substring(i)
      val mAll = """(?is)^\s+ALL\b""".r.findFirstMatchIn(rest)
      val mDis = """(?is)^\s+DISTINCT\b""".r.findFirstMatchIn(rest)
      if (mAll.isDefined) i += mAll.get.end
      else { allBag = false; if (mDis.isDefined) i += mDis.get.end }
      start = i
      i = graft.SqlRewrite.indexOfTopLevelWord(body, "UNION", i)
    }
    terms += body.substring(start)
    (terms.result().map(_.trim).filter(_.nonEmpty), allBag)
  }

  /** One parsed CTE binding: name, declared cols, body text. */
  private final case class Binding(name: String, cols: Option[Seq[String]],
                                   body: String)

  private val BindHead =
    """(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:\(([^)]*)\))?\s+AS\s*\(""".r

  /** Try to run `sql` as a recursive-CTE statement; None when the shape
    * doesn't match. Supports a comma-separated binding LIST (each
    * binding may reference earlier ones and itself) and a WITH RECURSIVE
    * nested inside a larger statement: the bindings materialize as temp
    * views in order, the with-clause text is spliced out, and the
    * remaining statement runs against the views. Every term and the
    * outer statement run through `sqlRun`, the caller's SQL-text path
    * (the Engine passes its parse plus MySQL coercion layer). */
  def run(spark: SparkSession, sql: String,
          sqlRun: String => DataFrame): Option[DataFrame] = {
    // literal-aware locate of the WITH RECURSIVE keywords (a regex over
    // raw text would also match inside string literals)
    val toksAll = graft.SqlRewrite.tokenize(sql)
    val wIdx = toksAll.indices.find(k =>
      toksAll(k).isWord("with") && k + 1 < toksAll.length &&
        toksAll(k + 1).isWord("recursive")).getOrElse(return None)
    val withStart = toksAll(wIdx).start
    val bindStart = toksAll(wIdx + 1).end
    // parse the comma-separated bindings
    val bindings = Seq.newBuilder[Binding]
    var pos = bindStart
    var more = true
    while (more) {
      val bm = BindHead.findFirstMatchIn(sql.substring(pos))
        .getOrElse(return None)
      val bodyStart = pos + bm.end
      val close = graft.SqlRewrite.closingParen(sql, bodyStart)
      if (close < 0) return None
      bindings += Binding(bm.group(1),
        Option(bm.group(2)).map(_.split(",").map(_.trim).toSeq),
        sql.substring(bodyStart, close))
      // a comma continues the binding list
      var j = close + 1
      while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
      if (j < sql.length && sql.charAt(j) == ',') { pos = j + 1; more = true }
      else { pos = j; more = false }
    }
    val binds = bindings.result()
    // statement with the whole WITH clause spliced out
    val outer = (sql.substring(0, withStart) + " " + sql.substring(pos)).trim
    if (outer.isEmpty) return None

    val made = scala.collection.mutable.ListBuffer.empty[String]
    try {
      binds.foreach { b =>
        val df = evalBinding(b, sqlRun)
        df.createOrReplaceTempView(b.name)
        made += b.name
      }
      val result = sqlRun(outer) // analysis is eager; safe to drop after
      Some(result)
    } finally made.foreach { n =>
      try spark.catalog.dropTempView(n) catch { case NonFatal(_) => () }
    }
  }

  /** Materialize one binding: non-recursive bodies run directly;
    * self-referencing bodies drive the working-table loop. */
  private def evalBinding(b: Binding,
                          sqlRun: String => DataFrame): DataFrame = {
    val (terms0, allBag) = splitUnions(b.body)
    val selfRef = ("(?i)\\b" + java.util.regex.Pattern.quote(b.name) + "\\b").r
    // a trailing top-level [ORDER BY ...] LIMIT n on the LAST term caps
    // the CUMULATIVE working table (MySQL cte.go limit pushdown); the
    // ORDER BY before it has no effect on accumulation and drops
    var maxRows = Long.MaxValue
    val terms = terms0.init :+ {
      val last = terms0.last
      val toks = graft.SqlRewrite.tokenize(last)
      var d = 0
      var limitAt = -1
      var orderAt = -1
      toks.zipWithIndex.foreach { case (t, k) =>
        t.text match {
          case "(" => d += 1
          case ")" => d -= 1
          case _ if d == 0 && t.isWord("limit") => limitAt = k
          case _ if d == 0 && t.isWord("order") && orderAt < 0 &&
              k + 1 < toks.length && toks(k + 1).isWord("by") => orderAt = k
          case _ =>
        }
      }
      if (limitAt > 0 && limitAt == toks.length - 2 &&
          toks.last.text.forall(_.isDigit) && toks.last.text.nonEmpty) {
        maxRows = toks.last.text.toLong
        val cut = if (orderAt > 0 && orderAt < limitAt) orderAt else limitAt
        last.substring(0, toks(cut).start)
      } else last
    }
    val (recTerms, anchorTerms) =
      terms.partition(t => selfRef.findFirstIn(t).isDefined)
    if (anchorTerms.isEmpty)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name} has no anchor term")
    // the self-referencing member must be a direct UNION arm: MySQL 8's
    // tighter-binding INTERSECT/EXCEPT around it is rejected (reference
    // ErrRecursiveCTENotUnion — script_queries.go "intersection and
    // except tests"); INTERSECT inside an ANCHOR term stays legal
    recTerms.foreach { t =>
      val toks = graft.SqlRewrite.tokenize(t)
      var d = 0
      toks.foreach { tk =>
        tk.text match {
          case "(" => d += 1
          case ")" => d -= 1
          case _ if d == 0 &&
              (tk.isWord("intersect") || tk.isWord("except")) =>
            throw new IllegalArgumentException(
              "recursive Common Table Expression should contain union " +
              "(MySQL ErrRecursiveCTENotUnion)")
          case _ => ()
        }
      }
    }

    val seedSql = anchorTerms.map(t => s"($t)").mkString(" UNION ALL ")
    var seed = sqlRun(seedSql)
    b.cols.foreach(cs => seed = seed.toDF(cs: _*))

    // recursive-term outputs keep the working table's column names
    // (Spark auto-names unaliased expressions like `(k + 5)`)
    val colNames = seed.columns.toSeq
    val step = (delta: DataFrame) => {
      delta.createOrReplaceTempView(b.name)
      recTerms.map(t => sqlRun(t).toDF(colNames: _*)).reduce(_ unionAll _)
    }
    val acc =
      if (recTerms.isEmpty) {
        // the stripped trailing LIMIT still applies to a non-recursive body
        val base = if (allBag) seed else seed.distinct()
        if (maxRows != Long.MaxValue)
          base.limit(math.min(maxRows, Int.MaxValue.toLong).toInt)
        else base
      }
      else if (allBag) RecursiveCte.unionAll(seed, step, MaxDepth, maxRows)
      else RecursiveCte.unionDistinct(seed, step, MaxDepth, maxRows)
    acc
  }
}
