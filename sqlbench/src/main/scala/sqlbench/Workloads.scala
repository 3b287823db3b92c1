package sqlbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{CacheScope, Engine, SparkEntry, Tables}

/** One statement of a pass. `run` is the timed part and returns the rows
  * it produced; `after` runs untimed once `run` succeeded (output checks,
  * shadow-model upkeep). */
final case class Stmt(id: String, kind: String, run: () => Long,
    after: () => Unit = () => ())

/** A workload: its set-up, its passes and its output checks. The runner
  * times set-up and passes; everything else here is untimed. */
abstract class Workload(val name: String, val sf: Double) {
  /** Passes run untimed before measuring; the first is the check pass. */
  val warmupPasses: Int
  /** Typical seconds of one warm pass on a 4-core machine: the run
    * measures max(minPasses, ceil(seconds / passSeconds)) passes, a count
    * fixed by its arguments, so every run's median comes from the same
    * pass positions. */
  val passSeconds: Double
  val minPasses: Int = 1
  /** Whether the pass is a list of distinct queries run once each; then
    * read_ms_p50 is the geometric mean of the per-query medians, so a
    * change to any one query moves it. */
  val perQueryP50: Boolean = false

  /** The statement list rotated by a seed-chosen offset: every pass runs
    * the same statements, neighbours stay neighbours. */
  protected def rotated[A](xs: Seq[A], p: Int): Seq[A] = {
    val k = Math.floorMod(seed * 7919L + p, xs.size.toLong).toInt
    xs.drop(k) ++ xs.take(k)
  }
  /** Build a fresh session and do the workload's set-up on it (timed). */
  def setup(base: SparkSession, dir: String): Unit
  /** Statements of pass `p` (0-based over warm-up and measured passes). */
  def pass(p: Int): IndexedSeq[Stmt]
  /** Run once after the first warm-up pass, untimed. */
  def check(): Unit = ()

  var checksPassed = 0
  val checkFailures = mutable.ArrayBuffer.empty[String]
  def expect(what: String, ok: Boolean, detail: => String): Unit =
    if (ok) checksPassed += 1 else checkFailures += s"$what: $detail"

  var tr: Tracer = _
  var seed: Long = 0
  var dir: String = ""

  // ---- statement shapes shared by the workloads ---------------------

  /** SQL text through the front door: Engine.query (or queryPrepared),
    * physical planning, collect. */
  protected def sqlStmt(id: String, kind: String, e: Engine, sql: String,
      params: Seq[Any] = Nil)(after: Array[Row] => Unit = _ => ()): Stmt = {
    var out: Array[Row] = null
    Stmt(id, kind, () => tr.stmt("client", "statement", id) {
      val layer = if (kind == "write") "dml" else "frontdoor"
      val df = tr.span(layer, if (params.isEmpty) "Engine.query" else "Engine.queryPrepared") {
        val d = if (params.isEmpty) e.query(sql) else e.queryPrepared(sql, params)
        tr.phases(d, Seq("parsing", "analysis"))
        d
      }
      tr.plan(df)
      out = tr.span("exec", "collect") {
        val r = df.collect()
        tr.count("exec.rows_out", r.length)
        r
      }
      tr.scanNodes(df)
      tr.span("cache", "CacheScope.drain")(CacheScope.drain())
      out.length.toLong
    }, () => after(out))
  }
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "oltp_mix" => new OltpMix
    case "tpch_sql" => new TpchSql
    case "pipeline_df" => new PipelineDf
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** A fresh session sharing the SparkContext: set-up repetitions never
    * see each other's temp views, and Engine's session settings stay off
    * the DataFrame-API sessions. */
  def freshEngine(base: SparkSession, dir: String): Engine = {
    val e = new Engine(base.newSession())
    e.attachDir(dir)
    e
  }
}

/** Short MySQL statements at sf0.01 through Engine.query/queryPrepared,
  * shaped after sysbench's `oltp_read_write` transaction with its default
  * options (see README): BEGIN, ten point SELECTs by key, a plain, a SUM,
  * an ORDER BY and a DISTINCT range read over 100 keys, an UPDATE of the
  * summed column, an UPDATE of the text column, a DELETE and the INSERT
  * that puts the deleted key back, COMMIT. Every statement targets
  * `work_orders`, which set-up copies from `orders` with CTAS (sysbench's
  * `sbtest1`: id = o_orderkey, k = o_custkey, c = o_orderpriority,
  * pad = o_totalprice). The engine has no transactions, so BEGIN and
  * COMMIT, the transaction's two table-less statements, are FROM-less
  * expressions. A pass is two transactions: the first sends every
  * statement as text, the second sends its reads through queryPrepared
  * with `?` markers (sysbench's prepared-statement mode; the engine's
  * prepared path takes queries only, so writes stay text). Every read is
  * checked against a shadow model of the benchmark's own writes. */
final class OltpMix extends Workload("oltp_mix", 0.01) {
  // with fewer warm-up passes the measured passes still sped up by 10-20 %
  val warmupPasses = 3
  val passSeconds = 4.5
  // 3 passes give read_ms_p90 over 96 reads, ten of them beyond it
  override val minPasses = 3
  private var e: Engine = _
  private var nOrders = 0
  private var nCust = 0L
  private val Work = "work_orders"
  private val RangeSize = 100
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  // shadow model of work_orders, indexed by key: the key set is fixed,
  // since every DELETE is followed by the INSERT of the same key
  private var present: Array[Boolean] = _
  private var cust: Array[Long] = _
  private var price: Array[Double] = _
  private var prio: Array[String] = _

  def setup(base: SparkSession, dir: String): Unit = {
    e = Workloads.freshEngine(base, dir)
    e.query(s"CREATE TABLE $Work AS SELECT o_orderkey, o_custkey, o_totalprice, " +
      "o_orderpriority FROM orders").collect()
  }

  private def initShadow(): Unit = if (present == null) {
    val counts = DataGen.counts(sf)
    nOrders = counts("orders").toInt; nCust = counts("customer")
    present = new Array[Boolean](nOrders); cust = new Array[Long](nOrders)
    price = new Array[Double](nOrders); prio = new Array[String](nOrders)
    e.spark.table(Work).collect().foreach { r =>
      val k = r.getLong(0).toInt
      present(k) = true; cust(k) = r.getLong(1); price(k) = r.getDouble(2); prio(k) = r.getString(3)
    }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
  private def inRange(a: Int) = (a until a + RangeSize).filter(present(_))

  def pass(p: Int): IndexedSeq[Stmt] = {
    initShadow()
    val rng = new scala.util.Random(seed * 1000003L + p)
    (transaction(s"p$p.t0", rng, prepared = false) ++
      transaction(s"p$p.t1", rng, prepared = true)).toIndexedSeq
  }

  /** One oltp_read_write transaction; keys are drawn uniformly, as with
    * sysbench's `--rand-type=uniform`. */
  private def transaction(t: String, rng: scala.util.Random, prepared: Boolean): Seq[Stmt] = {
    val ps = if (prepared) "_ps" else ""
    def key() = rng.nextInt(nOrders)
    def start() = rng.nextInt(nOrders - RangeSize + 1)
    /** A read sent as text, or with `?` markers through queryPrepared. */
    def read(id: String, sql: String, params: Seq[Any])(after: Array[Row] => Unit): Stmt =
      if (prepared) sqlStmt(id, "read", e, sql, params)(after)
      else sqlStmt(id, "read", e, params.foldLeft(sql)((s, v) => s.replaceFirst("\\?", v.toString)))(after)
    def range(kind: String, sql: String)(check: (Int, Array[Row]) => Boolean): Stmt = {
      val a = start()
      read(s"$t.$kind$ps", sql, Seq(a, a + RangeSize - 1))(rows =>
        expect(s"$kind matches the shadow model", check(a, rows), s"$t $kind from $a: ${rows.mkString(",")}"))
    }
    val points = (0 until 10).map { i =>
      val k = key()
      read(s"$t.point$ps", s"SELECT o_orderpriority FROM $Work WHERE o_orderkey = ?", Seq(k))(rows =>
        expect("point read matches the shadow model",
          if (present(k)) rows.length == 1 && rows(0).getString(0) == prio(k) else rows.isEmpty,
          s"$t point $k: got ${rows.mkString(",")}, want ${prio(k)}"))
    }
    val ranges = Seq(
      range("simple_range", s"SELECT o_orderpriority FROM $Work WHERE o_orderkey BETWEEN ? AND ?")(
        (a, rows) => rows.map(_.getString(0)).sorted.toSeq == inRange(a).map(prio).sorted),
      range("sum_range", s"SELECT SUM(o_custkey) FROM $Work WHERE o_orderkey BETWEEN ? AND ?")(
        (a, rows) => rows.length == 1 &&
          BigDecimal(rows(0).get(0).toString) == BigDecimal(inRange(a).map(cust).sum)),
      range("order_range", s"SELECT o_orderpriority FROM $Work WHERE o_orderkey BETWEEN ? AND ? " +
        "ORDER BY o_orderpriority")(
        (a, rows) => rows.map(_.getString(0)).toSeq == inRange(a).map(prio).sorted),
      range("distinct_range", s"SELECT DISTINCT o_orderpriority FROM $Work " +
        "WHERE o_orderkey BETWEEN ? AND ? ORDER BY o_orderpriority")(
        (a, rows) => rows.map(_.getString(0)).toSeq == inRange(a).map(prio).distinct.sorted))
    val (ku, kn, kd) = (key(), key(), key())
    val newPrio = Priorities(rng.nextInt(Priorities.size))
    val (insCust, insPrice, insPrio) = (rng.nextLong(nCust),
      f"${1000 + rng.nextInt(100000) / 100.0}%.2f", Priorities(rng.nextInt(Priorities.size)))
    // each write reports one affected row only while its key is present,
    // which the shadow model knows once the statements before it ran
    def write(kind: String, sql: String, k: Int)(update: => Unit): Stmt =
      sqlStmt(s"$t.$kind", "write", e, sql)(rows => {
        val want = if (present(k) || kind == "insert") 1L else 0L
        expect("write reports its affected rows",
          rows.length == 1 && rows(0).getLong(0) == want, s"$t $kind $k: ${rows.mkString(",")}")
        if (want == 1L) update
      })
    val writes = Seq(
      write("index_update", s"UPDATE $Work SET o_custkey = o_custkey + 1 WHERE o_orderkey = $ku", ku)(
        cust(ku) += 1),
      write("non_index_update",
        s"UPDATE $Work SET o_orderpriority = '$newPrio' WHERE o_orderkey = $kn", kn)(prio(kn) = newPrio),
      write("delete", s"DELETE FROM $Work WHERE o_orderkey = $kd", kd)(present(kd) = false),
      write("insert", s"INSERT INTO $Work VALUES ($kd, $insCust, $insPrice, '$insPrio')", kd) {
        present(kd) = true; cust(kd) = insCust; price(kd) = insPrice.toDouble; prio(kd) = insPrio
      })
    (fromless(s"$t.begin", rng) +: points) ++ ranges ++ writes :+ fromless(s"$t.commit", rng)
  }

  private def fromless(id: String, rng: scala.util.Random): Stmt = {
    val k = rng.nextInt(100000)
    sqlStmt(id, "read", e, s"SELECT $k + 1, CONCAT('user-', $k), " +
      s"UPPER(SUBSTRING('mysql-on-spark', 1 + $k % 5, 5)), " +
      s"DATE_ADD('2024-01-01', INTERVAL ${k % 28} DAY), $k DIV 7, $k % 13")(rows =>
      expect("FROM-less expression", rows.length == 1 &&
        rows(0).get(0).toString == (k + 1).toString &&
        rows(0).getString(1) == s"user-$k", s"$id: ${rows.mkString(",")}"))
  }

  override def check(): Unit = {
    val r = e.query(s"SELECT COUNT(*), SUM(o_totalprice) FROM $Work").collect()
    val keys = present.indices.filter(present(_))
    expect("working table matches the shadow model at the end of warm-up",
      r(0).getLong(0) == keys.size && close(r(0).getDouble(1), keys.map(price).sum),
      s"got ${r.mkString(",")}, want ${keys.size}, ${keys.map(price).sum}")
  }

  /** Node count of the working table's optimized plan (plan growth). */
  def planNodes(): Int = e.query(s"SELECT * FROM $Work").queryExecution.optimizedPlan
    .collect { case n => n }.size
}

/** The TPC-H texts as MySQL SQL through Engine.query; the check pass
  * compares every result with the same query's DataFrame QueryDef. */
final class TpchSql extends Workload("tpch_sql", TpchSql.Sf) {
  // the check pass is the cold one; the second lets the JIT settle
  val warmupPasses = 2
  val passSeconds = 2.0
  override val minPasses = 4
  override val perQueryP50 = true
  private var e: Engine = _
  private var dfSession: SparkSession = _
  private val firstResults = mutable.HashMap.empty[String, Array[Row]]

  def setup(base: SparkSession, dir: String): Unit = {
    e = Workloads.freshEngine(base, dir)
    dfSession = base.newSession()
  }

  def pass(p: Int): IndexedSeq[Stmt] = {
    rotated(TpchSql.queries, p).map { q =>
      sqlStmt(q, "read", e, TpchSql.text(q))(rows => if (p == 0) firstResults(q) = rows)
    }.toIndexedSeq
  }

  override def check(): Unit = TpchSql.queries.foreach { q =>
    firstResults.get(q) match {
      case None => expect(s"$q ran in the check pass", ok = false, s"$q failed in the check pass")
      case Some(got) =>
        val want = SparkEntry.queries(q)(dfSession, dir).collect()
        val diff = Compare.rows(got, want)
        expect(s"$q SQL text matches its DataFrame QueryDef", diff.isEmpty, s"$q: ${diff.getOrElse("")}")
    }
  }
}

object TpchSql {
  val Sf = 0.01
  /** Scan-, filter- and join-heavy TPC-H queries: a full pass over all
    * twenty the engine declares does not fit one run (see README). */
  val queries: Seq[String] = Seq("q1_agg", "tpch_q6", "tpch_q9", "tpch_q12", "tpch_q19")

  private val DateDiff = """(?i)date_diff\(\s*'day'\s*,\s*([\w.]+)\s*,\s*([\w.]+)\s*\)""".r

  /** The DuckDB oracle text with its DuckDB-only syntax in MySQL form. */
  def text(q: String): String =
    DateDiff.replaceAllIn(SparkEntry.oracleSql(q), m => s"DATEDIFF(${m.group(2)}, ${m.group(1)})")
}

/** The LLM-pipeline QueryDefs through `fn(spark, dir)` and a collect of
  * every row, with CacheScope.drain() after each, as graft.Bench runs
  * them. Every pass times the plan its output check reads: a count would
  * let column pruning drop the projected expressions. */
final class PipelineDf extends Workload("pipeline_df", PipelineDf.Sf) {
  // with one warm-up pass the measured passes still sped up by 10-20 %
  val warmupPasses = 2
  val passSeconds = 5.5
  override val minPasses = 3
  override val perQueryP50 = true
  private var spark: SparkSession = _
  /** The committed checksums; with `writeExpected` the check pass
    * rewrites them instead of comparing. */
  var expectedFile: java.nio.file.Path = _
  var writeExpected = false
  private val sums = mutable.LinkedHashMap.empty[String, Compare.Checksum]

  def setup(base: SparkSession, dir: String): Unit = {
    spark = base.newSession()
    Tables.registerAll(spark, dir)
  }

  def pass(p: Int): IndexedSeq[Stmt] = {
    rotated(PipelineDf.queries, p).map { q =>
      val fn = SparkEntry.queries(q)
      var rows: Array[Row] = null
      var df: DataFrame = null
      Stmt(q, "read", () => tr.stmt("client", "statement", q) {
        // no SQL front door: fn builds the plan and runs the jobs some
        // QueryDefs start eagerly (persist, driver-local steps), so its
        // span and jobs belong to exec
        df = tr.span("exec", "QueryDef.fn") {
          val d = fn(spark, dir)
          tr.phases(d, Seq("parsing", "analysis"))
          d
        }
        tr.plan(df)
        rows = tr.span("exec", "collect") {
          val r = df.collect()
          tr.count("exec.rows_out", r.length)
          r
        }
        tr.scanNodes(df)
        if (tr.on) {
          val info = spark.sparkContext.getRDDStorageInfo
          tr.count("cache.blocks", info.map(_.numCachedPartitions).sum)
          tr.count("cache.mem_bytes", info.map(_.memSize).sum.toDouble)
          tr.count("cache.disk_bytes", info.map(_.diskSize).sum.toDouble)
        }
        tr.span("cache", "CacheScope.drain")(CacheScope.drain())
        rows.length.toLong
      }, () => {
        // an order-insensitive checksum of every row: the check pass's
        // goes to check(), every later pass must reproduce it
        val cs = Compare.checksum(rows, df.schema)
        if (p == 0) sums(q) = cs
        else sums.get(q).foreach { first =>
          val d = Compare.checksumDiff(cs, first)
          expect(s"$q output matches the check pass", d.isEmpty, s"$q pass $p: ${d.getOrElse("")}")
        }
      })
    }.toIndexedSeq
  }

  override def check(): Unit =
    if (writeExpected) Compare.writeChecksums(expectedFile, sf, sums)
    else {
      val want = Compare.readChecksums(expectedFile)
      PipelineDf.queries.foreach { q =>
        (sums.get(q), want.get(q)) match {
          case (Some(g), Some(w)) =>
            val d = Compare.checksumDiff(g, w)
            expect(s"$q row count and checksum match the committed values", d.isEmpty,
              s"$q: ${d.getOrElse("")}")
          case (None, _) => expect(s"$q ran in the check pass", ok = false, s"$q failed")
          case (_, None) => expect(s"$q has a committed checksum", ok = false, s"$q missing")
        }
      }
    }
}

object PipelineDf {
  val Sf = 0.01
  /** A fixed cut of the 48 pipeline QueryDefs that fits one run (see
    * README): custom expressions, persisted intermediates, the
    * driver-local connected components and dedup_semantic.
    * dedup_lsh_pairs is left out: dedup_clusters runs its persisted
    * signatures, bands and self-join before the connected components. */
  val queries: Seq[String] = Seq("dedup_clusters", "dedup_semantic",
    "ann_recall", "vec_distances", "text_winnow", "pipeline_curate")
}
