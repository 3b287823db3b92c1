package graft

import org.scalatest.funsuite.AnyFunSuite

/** Minimal reader + runner for the reference's sqllogictest corpus
  * (enginetest/sqllogictest/testdata/join — CockroachDB-derived,
  * MySQL-adapted). Format per record, separated by blank lines:
  *
  *   statement ok            |  statement error
  *   <sql lines...>          |  <sql lines...>
  *
  *   query <typechars> <sortmode>
  *   <sql lines...>
  *   ----
  *   <one value per line, row-major>
  *
  * The files run sequentially against ONE Engine (tables persist across
  * records, like the reference's logictest harness). Outcomes are
  * computed once, lazily; each record gets its own ScalaTest test so a
  * mid-file failure doesn't hide the rest. Comparison follows the
  * GoScriptRunner convention: order-sensitive only when the outer query
  * has ORDER BY, numerics meet at BigDecimal.
  */
object SqlLogicTest {
  sealed trait Rec { def line: Int; def sql: String }
  final case class Stmt(line: Int, sql: String, expectError: Boolean)
      extends Rec
  final case class Query(line: Int, sql: String, types: String,
                         expected: Seq[String]) extends Rec

  def parse(path: String): Seq[Rec] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val out = Vector.newBuilder[Rec]
    var i = 0
    def collectSql(stopAtDashes: Boolean): String = {
      val b = Vector.newBuilder[String]
      while (i < lines.length && lines(i).trim.nonEmpty &&
             !(stopAtDashes && lines(i).trim == "----")) {
        if (!lines(i).trim.startsWith("#")) b += lines(i)
        i += 1
      }
      b.result().mkString("\n").trim
    }
    while (i < lines.length) {
      val l = lines(i).trim
      if (l.isEmpty || l.startsWith("#")) i += 1
      else if (l.startsWith("statement")) {
        val expectErr = l.split("\\s+").lift(1).contains("error")
        val at = i + 1
        i += 1
        out += Stmt(at, collectSql(stopAtDashes = false), expectErr)
      } else if (l.startsWith("query")) {
        val types = l.split("\\s+").lift(1).getOrElse("")
        val at = i + 1
        i += 1
        val sql = collectSql(stopAtDashes = true)
        val vals = Vector.newBuilder[String]
        if (i < lines.length && lines(i).trim == "----") {
          i += 1
          while (i < lines.length && lines(i).trim.nonEmpty) {
            vals += lines(i).trim
            i += 1
          }
        }
        out += Query(at, sql, types, vals.result())
      } else i += 1 // unknown directive: skip
    }
    out.result()
  }
}

abstract class SqlLogicTestSpec extends AnyFunSuite {
  import SparkSpec.spark

  /** Absolute path of the .txt corpus file. */
  def path: String
  /** Label-prefix -> reason pin inventory ("<label>\t<reason>"). */
  def divergenceFile: Option[String] = None

  private lazy val pinned: Map[String, String] =
    divergenceFile.map { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().map(_.trim)
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .map { l =>
          val i = l.indexOf('\t')
          if (i < 0) (l, "inventoried divergence")
          else (l.substring(0, i), l.substring(i + 1))
        }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  private lazy val recs = SqlLogicTest.parse(path)
  private def name = new java.io.File(path).getName.stripSuffix(".txt")
  private def label(r: SqlLogicTest.Rec) =
    s"$name L${r.line}: ${r.sql.linesIterator.mkString(" ").take(90)}"

  /** Whole-file sequential run, once; line -> Some(failureReason). */
  private lazy val outcomes: Map[Int, Option[String]] = {
    // same isolation as GoScriptCorpusSpec: clear temp views left over
    // from earlier suites, run the file in a fresh Engine
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name)
      .foreach(n => try spark.catalog.dropTempView(n)
        catch { case _: Throwable => () })
    val engine = new Engine(spark)
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    val res = recs.map {
      case SqlLogicTest.Stmt(line, sql, expectErr) =>
        "(?i)CREATE\\s+(?:TABLE|VIEW)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z0-9_]+)`?"
          .r.findFirstMatchIn(sql).foreach(m => created += m.group(1))
        val out =
          try { engine.query(sql).collect(); None } catch {
            case e: Throwable => Some(
              "threw " + String.valueOf(e.getMessage)
                .linesIterator.mkString(" ").take(200))
          }
        line -> (if (expectErr)
          (if (out.isEmpty) Some("expected an error, none thrown") else None)
        else out)
      case SqlLogicTest.Query(line, sql, types, expected) =>
        line -> (try {
          val got = engine.query(sql).collect()
            .map(r => (0 until r.length).map(i => GoNorm.norm(r.get(i))).toSeq)
            .toSeq
          val ncols = types.length
          val want = expected.map(parseVal).grouped(ncols).map(_.toSeq).toSeq
          if (got.exists(_.length != ncols))
            Some(s"column count ${got.headOption.fold(0)(_.length)} != $ncols")
          else {
            val ordered = "(?i)\\border\\s+by\\b".r
              .findFirstIn(GoNorm.stripParens(sql)).isDefined
            val (g, w) =
              if (ordered) (got, want)
              else (got.sortBy(GoNorm.sortKeyRow), want.sortBy(GoNorm.sortKeyRow))
            if (GoNorm.eqRows(g, w)) None
            else Some(s"got:  ${g.take(12)}   want: ${w.take(12)}")
          }
        } catch {
          case e: Throwable => Some(
            "threw " + String.valueOf(e.getMessage)
              .linesIterator.mkString(" ").take(200))
        })
    }.toMap
    // clean up the file's tables so later suites see a clean catalog
    created.distinct.foreach { t =>
      try engine.query(s"drop view if exists $t")
      catch { case _: Throwable => () }
      try engine.query(s"drop table if exists $t")
      catch { case _: Throwable => () }
    }
    res
  }

  /** sqllogictest expected token -> comparable value (GoNorm domain). */
  private def parseVal(s: String): Any = s match {
    case "NULL" => null
    case "(empty)" => ""
    case t if t.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") =>
      GoNorm.norm(BigDecimal(t))
    case t => GoNorm.norm(t)
  }

  protected def registerAll(): Unit =
    if (!GoCorpus.present(path))
      test(GoCorpus.absentLabel(name))(GoCorpus.assumePresent(path))
    else recs.foreach { r =>
      val lbl = label(r)
      pinned.collectFirst {
        case (k, reason) if lbl.startsWith(k) => reason
      } match {
        case Some(reason) => ignore(s"$lbl [pinned: $reason]") {}
        case None =>
          test(lbl) {
            outcomes(r.line) match {
              case Some(fail) =>
                info("BLOCKDIVERGE\t" + lbl + "\t" +
                  fail.linesIterator.mkString(" ").trim.take(80))
                assert(false, fail)
              case None => ()
            }
          }
      }
    }
}

/** CockroachDB-derived join assertions (join.txt, 1,531 lines). */
class ReferenceSqlLogicJoinSpec extends SqlLogicTestSpec {
  val path = "/root/reference/enginetest/sqllogictest/testdata/join/join.txt"
  override def divergenceFile =
    Some("src/test/resources/sqllogictest_divergences.txt")
  registerAll()
}

/** Correlated-subquery assertions (subquery_correlated.txt, 1,839
  * lines) — the adversarial surface for the deep-correlation and
  * 3VL-IN rewrites. */
class ReferenceSqlLogicSubquerySpec extends SqlLogicTestSpec {
  val path =
    "/root/reference/enginetest/sqllogictest/testdata/join/subquery_correlated.txt"
  override def divergenceFile =
    Some("src/test/resources/sqllogictest_divergences.txt")
  registerAll()
}
