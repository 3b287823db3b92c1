package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shared driver for ScriptTest corpora parsed at test time by
  * [[GoCorpus]]: each Go block's SetUpScript runs through the Engine's
  * SQL front door, then every assertion's rows compare against the Go
  * literal `Expected` (unordered unless the query orders; numerics
  * widened to BigDecimal so Go int-width wrappers compare equal).
  *
  * Subclasses declare the Go source path, the variable names to run,
  * and a substring→reason map of pinned divergences (skipped with the
  * reason as documentation). Blocks the reference itself skips
  * (`Skip: true`) are skipped here too.
  */
/** Value normalization shared by the ScriptTest and QueryTest corpus
  * runners: numerics widen to BigDecimal, temporals canonicalize to
  * their MySQL display form, JSON strings compact. */
object GoNorm {
  /** "yyyy-MM-dd HH:mm:ss[.fraction]", trailing fraction zeros dropped. */
  def tsForm(d: java.time.LocalDateTime): String = {
    val base = f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d " +
      f"${d.getHour}%02d:${d.getMinute}%02d:${d.getSecond}%02d"
    if (d.getNano == 0) base
    else base + "." + f"${d.getNano}%09d".reverse.dropWhile(_ == '0').reverse
  }

  /** Strip whitespace outside string literals — a cheap JSON normalizer
    * for display-form comparison. */
  def compactJson(s: String): String = {
    val sb = new StringBuilder
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        sb.append(c)
        if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 1 }
        else if (c == '"') inStr = false
      } else if (c == '"') { inStr = true; sb.append(c) }
      else if (!c.isWhitespace) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Blank out parenthesized segments (string-aware) — used to test for
    * a TOP-LEVEL ORDER BY. */
  def stripParens(s: String): String = {
    val sb = new StringBuilder
    var depth = 0; var quote = '\u0000'; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != '\u0000') {
        if (c == '\\') i += 1
        else if (c == quote) quote = '\u0000'
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => if (depth == 0) sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def norm(v: Any): Any = v match {
    case null => null
    case GoCorpus.Opaque(src) => src
    case t: java.sql.Timestamp => tsForm(t.toLocalDateTime)
    case t: java.time.LocalDateTime => tsForm(t)
    case t: java.time.Instant =>
      tsForm(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => tsForm(d.toLocalDate.atStartOfDay)
    case d: java.time.LocalDate => tsForm(d.atStartOfDay)
    // MySQL marshals booleans as tinyint 1/0; BOTH sides pass through
    // norm, so a Go `true` expectation and a Spark boolean result meet
    // at the same numeric form (and int expectations match too)
    case b: Boolean => BigDecimal(if (b) 1 else 0)
    case b: Byte => BigDecimal(b.toInt)
    case s: Short => BigDecimal(s.toInt)
    case i: Int => BigDecimal(i)
    case l: Long => BigDecimal(l)
    case f: Float if f.isNaN || f.isInfinite => f.toString
    // Float.toString is the shortest decimal that round-trips (MySQL's
    // FLOAT display form); widening via toDouble would manufacture
    // 123.45600128173828 from 123.456f and never match the corpus
    case f: Float => BigDecimal(f.toString)
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => BigDecimal(d)
    case d: java.math.BigDecimal => BigDecimal(d)
    case b: Array[Byte] => new String(b, "UTF-8")
    case s: String =>
      val t = s.trim
      if ((t.startsWith("{") && t.endsWith("}")) ||
          (t.startsWith("[") && t.endsWith("]"))) compactJson(s)
      // date-only display form → canonical midnight form, so a string
      // date compares equal to a time.Date / java.sql.Date expectation
      // (both sides pass through norm, so str-vs-str stays consistent)
      else if (t.matches("\\d{4}-\\d{2}-\\d{2}")) t + " 00:00:00"
      else s
    case other => other
  }

  /** Cell equality after norm. The one leniency beyond ==: the
    * reference marshals DECIMAL (and SHOW counter) results as display
    * strings ("123.456", "0"), while Spark hands back numerics —
    * compare scale-EXACT via toPlainString. norm() folds every numeric
    * type into BigDecimal, so no type-fidelity signal is lost here
    * that norm hadn't already erased. */
  def eqCell(g: Any, w: Any): Boolean = (g == w) || ((g, w) match {
    case (b: BigDecimal, s: String) => b.underlying.toPlainString == s
    case (s: String, b: BigDecimal) => b.underlying.toPlainString == s
    case _ => false
  })

  /** Canonical cell key for UNORDERED row pairing: numerics (and
    * numeric-looking strings — the reference marshals DECIMALs as
    * display strings) key by their plain, zero-stripped decimal form so
    * `4E-16` and "0.0000000000000004" pair up. */
  def sortKey(v: Any): String = v match {
    case b: BigDecimal =>
      val s = b.underlying.stripTrailingZeros
      if (s.compareTo(java.math.BigDecimal.ZERO) == 0) "0"
      else s.toPlainString
    case s: String if s.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") =>
      try sortKey(BigDecimal(s)) catch { case _: Throwable => s }
    case other => String.valueOf(other)
  }

  def sortKeyRow(r: Seq[Any]): String = r.map(sortKey).mkString("|")

  def eqRows(g: Seq[Seq[Any]], w: Seq[Seq[Any]]): Boolean =
    g.length == w.length && g.zip(w).forall { case (gr, wr) =>
      gr.length == wr.length && gr.zip(wr).forall { case (a, b) => eqCell(a, b) }
    }
}

abstract class GoScriptCorpusSpec extends AnyFunSuite {
  import SparkSpec.spark

  /** Fresh per block — the reference runs each ScriptTest in a fresh
    * session, so session state (sql_mode, time_zone, @vars) must not
    * leak across blocks. Engine construction is cheap (catalog maps +
    * function registration are idempotent). */
  protected def newEngine(): Engine = new Engine(spark)

  /** Absolute path of the Go corpus file. */
  def path: String
  /** `var X = []ScriptTest{...}` names to execute. */
  def varNames: Seq[String]
  /** query-text substring → documented reason to skip. */
  def divergences: Map[String, String] = Map.empty
  /** block name → reason: skip the whole script (e.g. setup needs an
    * unsupported feature). */
  def blockDivergences: Map[String, String] = Map.empty

  /** Optional block-divergence inventory file for mechanical runs over
    * large ScriptTest vars: one "<test label>\t<reason>" per line,
    * keyed by the ScalaTest label ("Var: name [#n]") so duplicate block
    * names pin independently. Meant to SHRINK as fixes land. */
  def blockDivergenceFile: Option[String] = None
  private lazy val pinnedBlocks: Map[String, String] =
    blockDivergenceFile.map { p =>
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
  /** Vars the reference runs with ONE engine for the whole var
    * (TestScriptWithEngine): blocks see prior blocks' tables and session
    * state, so the runner shares an Engine and only cleans the catalog
    * before the var's first block. */
  def sharedEngineVars: Set[String] = Set.empty

  private val sharedEngines =
    scala.collection.mutable.Map.empty[String, Engine]

  protected def norm(v: Any): Any = GoNorm.norm(v)

  protected def compactJson(s: String): String = GoNorm.compactJson(s)

  private def dropCreated(engine: Engine, setup: Seq[String]): Unit =
    setup.flatMap(s =>
      "(?i)CREATE\\s+(?:TABLE|VIEW)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?`?\"?([A-Za-z0-9_]+)`?\"?"
        .r.findFirstMatchIn(s).map(_.group(1)))
      .distinct.foreach { t =>
        try engine.query(s"drop view if exists $t")
        catch { case _: Throwable => () }
        try engine.query(s"drop table if exists $t")
        catch { case _: Throwable => () }
      }

  /** Hooks around a block's setup/assert phases (e.g. the
    * OnUpdateExprScripts harness freezes the engine clock differently
    * for setup vs assertions — enginetests.go:5228). */
  def beforeSetup(engine: Engine): Unit = ()
  def beforeAsserts(engine: Engine): Unit = ()

  /** Extra fixture statements run before each block's own setup. */
  def fixtures: Seq[String] = Seq.empty
  /** Per-var fixture override (mirrors the reference's harness.Setup). */
  def fixturesFor(varName: String): Seq[String] = fixtures

  protected def runBlock(varName: String, sc: GoCorpus.Script,
                         firstOfVar: Boolean = true): Seq[String] = {
    val shared = sharedEngineVars(varName)
    val engine =
      if (shared) sharedEngines.getOrElseUpdate(varName, newEngine())
      else newEngine()
    // databases a block creates must not leak into later suites
    // (SHOW DATABASES expectations enumerate the catalog); drop them
    // when the block is done, restoring the default namespace first
    val createdDbs = (sc.setup ++ sc.asserts.map(_.query)).flatMap(s =>
      "(?i)CREATE\\s+(?:DATABASE|SCHEMA)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?`?([A-Za-z0-9_]+)`?"
        .r.findFirstMatchIn(s).map(_.group(1))).distinct
    def dropCreatedDbs(): Unit = if (!shared && createdDbs.nonEmpty) {
      try spark.catalog.setCurrentDatabase("default")
      catch { case _: Throwable => () }
      createdDbs.foreach(d =>
        try spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
        catch { case _: Throwable => () })
    }
    try runBlockInner(varName, sc, firstOfVar, shared, engine)
    finally dropCreatedDbs()
  }

  private def runBlockInner(varName: String, sc: GoCorpus.Script,
                            firstOfVar: Boolean, shared: Boolean,
                            engine: Engine): Seq[String] = {
    val fix = if (!shared || firstOfVar) fixturesFor(varName) else Seq.empty
    if (!shared || firstOfVar) {
      // Full isolation, mirroring the reference's fresh-session-per-script
      // harness: drop every temp view left over from earlier blocks/suites.
      // Safe because forked sbt tests run suites sequentially — no other
      // suite is mid-flight — and every suite (re)registers its own
      // fixtures. Catalog-persistent (db-qualified) leftovers are rarer;
      // dropCreated below catches the names this block touches.
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name)
        .foreach(n => try spark.catalog.dropTempView(n)
          catch { case _: Throwable => () })
      dropCreated(engine, fix ++ sc.setup ++ sc.asserts.map(_.query))
    }
    fix.foreach(engine.query)
    beforeSetup(engine)
    sc.setup.foreach(engine.query)
    beforeAsserts(engine)
    sc.asserts.flatMap { a =>
      val pinned = divergences.keys.find(a.query.contains)
      if (a.skip) None
      else if (pinned.nonEmpty) {
        // pinned divergence: still EXECUTE (later asserts may depend on
        // the statement's side effects) but compare nothing
        try engine.query(a.query).collect() catch { case _: Throwable => () }
        None
      }
      else if (a.expectErr) {
        try {
          engine.query(a.query).collect()
          Some(s"${a.query}\n  expected an error, none thrown")
        } catch { case _: Throwable => None }
      } else {
        try {
          val got = engine.query(a.query).collect()
            .map(r => (0 until r.length).map(i => norm(r.get(i))).toSeq)
            .toSeq
          a.expected match {
            case None => None // write statement / plan-only assert: execute
            case Some(want0) =>
              val want = want0.map(_.map(norm))
              // order-sensitive only when the OUTER query orders — an
              // ORDER BY inside a derived table / subquery (stripped by
              // removing parenthesized segments) orders nothing visible
              val ordered = "(?i)\\border\\s+by\\b".r
                .findFirstIn(GoNorm.stripParens(a.query)).isDefined
              val (g, w) =
                if (ordered) (got, want)
                else (got.sortBy(GoNorm.sortKeyRow),
                  want.sortBy(GoNorm.sortKeyRow))
              if (GoNorm.eqRows(g, w)) None
              else Some(s"${a.query}\n  got:  $g\n  want: $w")
          }
        } catch {
          case e: Throwable =>
            Some(s"${a.query}\n  threw ${String.valueOf(e.getMessage).take(300)}")
        }
      }
    }
  }

  protected def registerAll(): Unit = {
    if (!GoCorpus.present(path)) varNames.foreach { v =>
      test(GoCorpus.absentLabel(v))(GoCorpus.assumePresent(path))
    }
    else for (varName <- varNames) {
      val blocks = GoCorpus.scripts(path, varName)
      val seen = scala.collection.mutable.Map.empty[String, Int]
      var first = true
      for (sc <- blocks) {
        val isFirst = first
        // ScalaTest requires unique test names; some corpora reuse a
        // block name ("error cases") within one var
        val n = seen.updateWith(sc.name)(c => Some(c.getOrElse(0) + 1)).get
        val label =
          if (n == 1) s"$varName: ${sc.name}"
          else s"$varName: ${sc.name} #$n"
        blockDivergences.get(sc.name).orElse(pinnedBlocks.get(label)) match {
          case _ if sc.skip =>
            // the reference's own enginetest suite skips this block
            ignore(s"$label [reference skips it: Skip: true]") {}
          case Some(reason) =>
            ignore(s"$label [pinned: $reason]") {}
          case None =>
            test(label) {
              // a setup-phase crash must still produce an inventory
              // marker, or the block can never be pinned mechanically
              val failures =
                try runBlock(varName, sc, isFirst)
                catch {
                  case e: Throwable =>
                    Seq("(setup)\n  setup threw " +
                      String.valueOf(e.getMessage)
                        .linesIterator.mkString(" ").take(200))
                }
              if (failures.nonEmpty)
                // machine-readable marker for (re)building the
                // block-divergence inventory (tools/gen_divergences.py
                // greps DIVERGE markers the same way)
                info("BLOCKDIVERGE\t" + label + "\t" +
                  failures.head.linesIterator.drop(1)
                    .mkString(" ").trim.take(80))
              assert(failures.isEmpty,
                s"${failures.size} mismatches; first:\n" +
                  failures.take(3).mkString("\n"))
            }
        }
        first = false
      }
    }
  }
}
