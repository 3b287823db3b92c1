package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MATCH ... AGAINST boolean-mode grammar — SURVEY.md §2.8 full-text
  * (reference sql/fulltext/fulltext.go + sql/expression/matchagainst.go).
  *
  * Grammar subset: `+word` required, `-word` excluded, bare `word`
  * optional (contributes to relevance), `"a phrase"` contiguous-token
  * match, `word*` prefix wildcard. The query string is a plan-time
  * literal, so the grammar compiles straight to codegen'd column
  * predicates over the token array — no extra shuffle, scan-speed at
  * 100 TB. Boolean-mode relevance is the TF sum of present non-excluded
  * terms (MySQL's boolean scorer has no IDF / 50% rule).
  */
object FullText {

  /** op: '+' required, '-' excluded, ' ' optional. weight: contribution
    * multiplier — '>' raises (2.0), '<' lowers (0.5), '~' negates (-1.0,
    * the soft-no operator: presence lowers relevance without excluding). */
  case class Term(op: Char, text: String, phrase: Boolean, prefix: Boolean,
      weight: Double = 1.0)

  /** Parse a boolean-mode query string. Phrase text is lowercased and
    * inner whitespace collapsed to single spaces (token normalization). */
  def parse(q: String): Seq[Term] = {
    val out = Seq.newBuilder[Term]
    var i = 0
    val n = q.length
    while (i < n) {
      while (i < n && q.charAt(i).isWhitespace) i += 1
      if (i < n) {
        var op = ' '
        var weight = 1.0
        var readingOps = true
        while (readingOps && i < n) {
          q.charAt(i) match {
            case '+' | '-' => op = q.charAt(i); i += 1
            case '>' => weight = 2.0; i += 1
            case '<' => weight = 0.5; i += 1
            case '~' => weight = -1.0; i += 1
            case _ => readingOps = false
          }
        }
        if (i < n && q.charAt(i) == '"') {
          val end = q.indexOf('"', i + 1)
          val stop = if (end < 0) n else end
          val ph = q.substring(i + 1, stop).trim.toLowerCase
            .replaceAll("\\s+", " ")
          if (ph.nonEmpty)
            out += Term(op, ph, phrase = true, prefix = false, weight)
          i = stop + 1
        } else {
          val start = i
          while (i < n && !q.charAt(i).isWhitespace) i += 1
          var w = q.substring(start, i).toLowerCase
          val prefix = w.endsWith("*")
          if (prefix) w = w.dropRight(1)
          if (w.nonEmpty)
            out += Term(op, w, phrase = false, prefix = prefix, weight)
        }
      }
    }
    out.result()
  }

  /** Per-term presence/frequency column: phrase containment is 0/1;
    * words and prefixes count token occurrences. */
  private def presence(t: Term, toks: Column, norm: Column): Column =
    if (t.phrase) (instr(norm, s" ${t.text} ") > 0).cast("int")
    else if (t.prefix) size(filter(toks, w => w.startsWith(t.text)))
    else size(filter(toks, w => w === t.text))

  /** SQL-text rendering of [[booleanMatch]]'s relevance for the
    * MATCH...AGAINST front door: the same grammar compiled to a Spark
    * SQL expression string over `textSql` (0 for non-matching rows), so
    * the rewrite emits plain parseable SQL instead of bridging Column
    * trees into a half-resolved plan. */
  def relevanceSql(textSql: String, query: String): String = {
    val terms = parse(query)
    require(terms.nonEmpty, "empty MATCH...AGAINST query")
    def q(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    val toks = s"split(lower($textSql), '[^a-z0-9]+')"
    val norm =
      s"concat(' ', regexp_replace(lower($textSql), '[^a-z0-9]+', ' '), ' ')"
    def pres(t: Term): String =
      if (t.phrase) s"CAST(instr($norm, ${q(" " + t.text + " ")}) > 0 AS INT)"
      else if (t.prefix)
        s"size(filter($toks, w -> startswith(w, ${q(t.text)})))"
      else s"size(filter($toks, w -> w = ${q(t.text)}))"
    val req = terms.filter(_.op == '+')
    val exc = terms.filter(_.op == '-')
    val opt = terms.filter(_.op == ' ')
    val reqOk = if (req.isEmpty) "TRUE"
      else req.map(t => s"(${pres(t)} > 0)").mkString(" AND ")
    val excOk = if (exc.isEmpty) "TRUE"
      else exc.map(t => s"(${pres(t)} = 0)").mkString(" AND ")
    val optOk = if (req.nonEmpty || opt.isEmpty) "TRUE"
      else opt.map(t => s"(${pres(t)} > 0)").mkString(" OR ")
    val scoring = req ++ opt
    val weighted = scoring.exists(_.weight != 1.0)
    val zero = if (weighted) "CAST(0.0 AS DOUBLE)" else "0"
    val score =
      if (scoring.isEmpty) zero
      else if (weighted) scoring.map(t =>
        s"(CAST(${pres(t)} AS DOUBLE) * ${t.weight})").mkString(" + ")
      else scoring.map(pres).mkString(" + ")
    s"(CASE WHEN (($reqOk) AND ($excOk) AND ($optOk)) " +
      s"THEN $score ELSE $zero END)"
  }

  /** (matched, relevance) for a boolean-mode query over `text`. A row
    * matches when every `+` term is present, no `-` term is present, and
    * (when there are no `+` terms) at least one optional term hits.
    * Relevance is 0 for non-matching rows. */
  def booleanMatch(text: Column, query: String): (Column, Column) = {
    val terms = parse(query)
    require(terms.nonEmpty, "empty boolean-mode query")
    val toks = split(lower(text), "[^a-z0-9]+")
    val norm = concat(lit(" "),
      regexp_replace(lower(text), "[^a-z0-9]+", " "), lit(" "))
    val pres = terms.map(t => t -> presence(t, toks, norm))
    val req = pres.filter(_._1.op == '+')
    val exc = pres.filter(_._1.op == '-')
    val opt = pres.filter(_._1.op == ' ')
    val reqOk = req.map(_._2 > 0).reduceOption(_ && _).getOrElse(lit(true))
    val excOk = exc.map(_._2 === 0).reduceOption(_ && _).getOrElse(lit(true))
    val optOk =
      if (req.nonEmpty || opt.isEmpty) lit(true)
      else opt.map(_._2 > 0).reduce(_ || _)
    val matched = reqOk && excOk && optOk
    val scoring = req ++ opt
    val weighted = scoring.exists(_._1.weight != 1.0)
    val score =
      if (weighted)
        scoring.map { case (t, p) => p.cast("double") * t.weight }
          .reduceOption(_ + _).getOrElse(lit(0.0))
      else scoring.map(_._2).reduceOption(_ + _).getOrElse(lit(0))
    (matched, when(matched, score).otherwise(if (weighted) lit(0.0) else lit(0)))
  }
}
