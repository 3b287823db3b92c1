package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared driver for QueryTest corpora (read-only Query/Expected pairs,
  * parsed at test time by [[GoCorpus.queryTests]]): fixtures load once,
  * one Engine serves every query, entries run in batches so a 1,000+
  * entry corpus doesn't become 1,000 ScalaTest cases. Comparison rules
  * match [[GoScriptCorpusSpec]] (unordered unless the query orders,
  * numerics as BigDecimal, temporals canonicalized). Entries whose
  * expectation contains a Go value the parser can't evaluate (struct
  * literal, helper call) are skipped and counted — the skip list prints
  * at the end of each batch's failure report for triage.
  */
abstract class GoQueryCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark

  def path: String
  def varNames: Seq[String]
  /** Fixture SQL, run once before the first query. */
  def fixtures: Seq[String] = Seq.empty
  /** query-text substring → documented reason to skip. */
  def divergences: Map[String, String] = Map.empty
  def batchSize: Int = 25

  /** Optional divergence inventory: a file of exact query texts
    * (whitespace-normalized; '#' comments carry the category) pinned as
    * documented divergences. A failing assert whose query is listed
    * skips; the inventory is meant to SHRINK as fixes land — entries
    * that now pass are reported via info() so they can be pruned. */
  def divergenceFile: Option[String] = None
  /** Literal-preserving normalization: whitespace runs collapse to one
    * space OUTSIDE quoted literals only; inside '…'/"…"/`…` the content
    * is kept, with control whitespace escaped (\n \t \r \0) so every
    * key stays one line in the inventory file. (MySQL's string-literal
    * escapes mean '\n' and a real newline are the same query, so the
    * two forms keying identically is correct, not a collision.) */
  protected def normQ(q: String): String = {
    val sb = new StringBuilder
    var i = 0
    var quote: Char = 0
    var pendingWs = false
    while (i < q.length) {
      val ch = q.charAt(i)
      if (quote == 0) {
        if (ch.isWhitespace) pendingWs = true
        else {
          if (pendingWs && sb.nonEmpty) sb.append(' ')
          pendingWs = false
          if (ch == '\'' || ch == '"' || ch == '`') quote = ch
          sb.append(ch)
        }
      } else {
        ch match {
          case '\n' => sb.append("\\n")
          case '\t' => sb.append("\\t")
          case '\r' => sb.append("\\r")
          case '\u0000' => sb.append("\\0")
          case '\\' if i + 1 < q.length =>
            // backslash escape: copy both chars so \' can't end the
            // literal early (the escaped char re-normalizes if it is
            // itself control whitespace)
            sb.append('\\')
            q.charAt(i + 1) match {
              case '\n' => sb.append("\\n")
              case '\t' => sb.append("\\t")
              case '\r' => sb.append("\\r")
              case '\u0000' => sb.append("\\0")
              case c => sb.append(c)
            }
            i += 1
          case c =>
            if (c == quote) quote = 0
            sb.append(c)
        }
      }
      i += 1
    }
    sb.result()
  }
  private lazy val pinnedQueries: Set[String] = divergenceFile.map { p =>
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try src.getLines().map(_.trim)
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(normQ).toSet
    finally src.close()
  }.getOrElse(Set.empty)

  private lazy val engine: Engine = {
    // full isolation from earlier suites' temp views, like the script
    // runner: the corpus expectations enumerate catalog contents (SHOW
    // TABLES LIKE, information_schema listings)
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name)
      .foreach(n => try spark.catalog.dropTempView(n)
        catch { case _: Throwable => () })
    val e = new Engine(spark)
    fixtures.foreach(e.query)
    e
  }

  private def hasOpaque(rows: Seq[Seq[Any]]): Boolean =
    rows.exists(_.exists(_.isInstanceOf[GoCorpus.Opaque]))

  /** Run one assert; Some(message) on mismatch, None on pass/skip. */
  protected def runOne(a: GoCorpus.Assert): Option[String] = {
    if (a.expectErr) {
      try {
        engine.query(a.query).collect()
        Some(s"${a.query}\n  expected an error, none thrown")
      } catch { case _: Throwable => None }
    } else {
      try {
        val got = engine.query(a.query).collect()
          .map(r => (0 until r.length).map(i => GoNorm.norm(r.get(i))).toSeq)
          .toSeq
        a.expected match {
          case None => None
          case Some(want0) =>
            val want = want0.map(_.map(GoNorm.norm))
            val ordered = "(?i)\\border\\s+by\\b".r
              .findFirstIn(GoNorm.stripParens(a.query)).isDefined
            val (g, w) =
              if (ordered) (got, want)
              else (got.sortBy(GoNorm.sortKeyRow), want.sortBy(GoNorm.sortKeyRow))
            if (GoNorm.eqRows(g, w)) None
            else Some(s"${a.query}\n  got:  ${g.take(8)}\n  want: ${w.take(8)}")
        }
      } catch {
        case e: Throwable =>
          Some(s"${a.query}\n  threw ${String.valueOf(e.getMessage).take(300)}")
      }
    }
  }

  protected def registerAll(): Unit = {
    if (!GoCorpus.present(path)) varNames.foreach { v =>
      test(GoCorpus.absentLabel(v))(GoCorpus.assumePresent(path))
    }
    else for (varName <- varNames) {
      val entries = GoCorpus.queryTests(path, varName)
      val batches = entries.zipWithIndex.grouped(batchSize).toSeq
      for ((batch, bi) <- batches.zipWithIndex) {
        val lo = batch.head._2; val hi = batch.last._2
        test(s"$varName [$lo..$hi]") {
          var skipped = List.empty[String]
          var fixedPins = List.empty[String]
          val failures = batch.flatMap { case (a, _) =>
            val pinned = divergences.keys.find(a.query.contains)
            if (a.skip) None
            else if (pinned.nonEmpty) None // read-only: nothing to execute
            else if (a.expected.exists(hasOpaque)) {
              skipped ::= a.query; None
            } else runOne(a) match {
              case Some(msg) if pinnedQueries.contains(normQ(a.query)) =>
                None // inventoried divergence
              case None if pinnedQueries.contains(normQ(a.query)) =>
                fixedPins ::= a.query; None
              case Some(msg) =>
                // machine-readable marker: tools/gen_divergences.py
                // greps these to (re)build the inventory
                info("DIVERGE\t" + normQ(a.query) + "\t" +
                  msg.linesIterator.drop(1).mkString(" ").trim.take(60))
                Some(msg)
              case None => None
            }
          }
          if (fixedPins.nonEmpty) {
            info(s"${fixedPins.size} inventoried divergences now PASS " +
              s"(prune from ${divergenceFile.getOrElse("?")}):")
            // one PRUNE marker per line — tools/gen_divergences.py and
            // manual pruning both need the full list, not a sample
            fixedPins.foreach(q => info("PRUNE\t" + normQ(q)))
          }
          assert(failures.isEmpty,
            s"${failures.size} mismatches (of ${batch.size}); first 5:\n" +
              failures.take(5).mkString("\n") +
              (if (skipped.nonEmpty)
                s"\n[${skipped.size} skipped: unparsed Go expectation]"
               else ""))
        }
      }
    }
  }
}
