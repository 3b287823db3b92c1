package sqlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `sqlbench/run.py` builds and launches it.
  *
  *   --workload oltp_mix|tpch_sql|pipeline_df  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --expected DIR  [--write-expected]
  *   [--stamp key=value ...]
  *
  * Prints its result as one line starting with `SQLBENCH_RESULT ` and
  * writes the full report (and, traced, the spans) under `DIR/out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = mutable.LinkedHashMap.empty[String, String]
    val stamp = mutable.LinkedHashMap.empty[String, Any]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--write-expected" => opts("write-expected") = "1"; i += 1
        case "--stamp" =>
          val Array(k, v) = args(i + 1).split("=", 2); stamp(k) = v; i += 2
        case a if a.startsWith("--") => opts(a.drop(2)) = args(i + 1); i += 2
        case a => throw new IllegalArgumentException(s"unexpected argument: $a")
      }
    }
    val workload = Workloads(opts("workload"))
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = 4
    val tmp = work.resolve(s"tmp-${ProcessHandle.current.pid}")
    Files.createDirectories(tmp)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("sqlbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.local.dir", tmp.resolve("local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val runner = new Runner(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", work)
      workload match {
        case p: PipelineDf =>
          p.expectedFile = Paths.get(opts("expected")).resolve("pipeline_df.tsv")
          p.writeExpected = opts.contains("write-expected")
        case _ if opts.contains("write-expected") =>
          throw new IllegalArgumentException("--write-expected applies to pipeline_df")
        case _ =>
      }
      val env = stamp ++ Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.runtime.version"),
        "scale_factor" -> workload.sf,
        "data_version" -> DataGen.Version)
      val result = runner.run(env.toSeq)
      println("SQLBENCH_RESULT " + Json(result))
    } finally {
      spark.stop()
      deleteTree(tmp)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** Times set-up and passes of one workload and builds the result. */
final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
    trace: Boolean, work: Path) {
  private val SetupReps = 3

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  final class PassStats(val traced: Boolean) {
    var ms = 0.0
    val read = mutable.ArrayBuffer.empty[Double]
    val write = mutable.ArrayBuffer.empty[Double]
    val byStmt = mutable.ArrayBuffer.empty[(String, Double)]
    var heapMb = 0.0
    var stmts = 0
  }

  private val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  private var attempted = 0L

  /** Run the statements of one pass; per-statement wall time is `run`
    * only, the untimed `after` work is excluded. Every statement of every
    * pass counts as attempted, and every failure is kept. */
  private def runPass(p: Int, measured: Boolean, traced: Boolean, tr: Tracer): PassStats = {
    val st = new PassStats(traced)
    tr.on = traced
    val stmts = w.pass(p)
    tr.span("pass", s"pass-$p", s"pass-$p") {
      stmts.foreach { s =>
        val t0 = System.nanoTime()
        val ok = try { s.run(); true } catch {
          case e: Throwable =>
            failures += ((s"pass $p: ${s.id}", e.getClass.getName,
              String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ").take(400)))
            false
        }
        val dt = ms(t0)
        st.ms += dt
        st.stmts += 1
        attempted += 1
        (if (s.kind == "write") st.write else st.read) += dt
        st.byStmt += s.id.split('.').last -> dt
        if (ok) {
          val on = tr.on; tr.on = false
          try s.after() catch {
            case e: Throwable => w.expect(s"${s.id} output check", ok = false, e.toString)
          } finally tr.on = on
          if (traced && s.kind == "write") w match {
            case o: OltpMix => tr.span("dml", "plan_nodes", s.id)(tr.count("dml.plan_nodes", o.planNodes()))
            case _ =>
          }
        }
      }
    }
    tr.on = false
    if (traced) tr.settle()
    if (measured) st.heapMb = Tracer.heapUsedMb()
    st
  }

  def run(env: Seq[(String, Any)]): Map[String, Any] = {
    w.seed = seed
    w.dir = DataGen.ensure(spark, Files.createDirectories(work.resolve("data")), w.sf)
    val tr = new Tracer(spark.sparkContext, listen = trace)
    w.tr = tr
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(spark, w.dir); ms(t0) / 1000
    }
    // warm-up; the first pass doubles as the check pass
    var p = 0
    val warmMs = mutable.ArrayBuffer.empty[Double]
    while (p < w.warmupPasses) {
      warmMs += runPass(p, measured = false, traced = false, tr).ms
      if (p == 0) w.check()
      p += 1
    }
    // measured passes: `seconds` worth, at least one; traced runs mix
    // traced and untraced passes in groups of four, traced-untraced-
    // untraced-traced, so that passes still speeding up after warm-up
    // bias neither side of the tracing overhead
    val n0 = math.max(w.minPasses, math.ceil(seconds / w.passSeconds - 1e-9).toInt)
    val nPasses = if (trace) 4 * math.ceil(n0 / 4.0).toInt else n0
    val measured = mutable.ArrayBuffer.empty[PassStats]
    val first = p
    while (measured.size < nPasses) {
      val k = (p - first) % 4
      measured += runPass(p, measured = true, traced = trace && (k == 0 || k == 3), tr)
      p += 1
    }
    tr.close()
    val correct = w.checkFailures.isEmpty && failures.isEmpty && w.checksPassed > 0
    val plain = measured.filterNot(_.traced)
    val traced = measured.filter(_.traced)

    def stats(ps: Seq[PassStats]): Map[String, Double] = {
      val reads = ps.flatMap(_.read); val writes = ps.flatMap(_.write)
      val readP50 =
        if (w.perQueryP50) Stats.geomean(ps.flatMap(_.byStmt).groupBy(_._1).values
          .map(xs => Stats.median(xs.map(_._2).toSeq)).toSeq)
        else Stats.pct(reads, 50)
      Map(
        "pass_s" -> Stats.median(ps.map(_.ms / 1000)),
        "read_ms_p50" -> readP50, "read_ms_p90" -> Stats.p90(reads),
        "write_ms_p50" -> Stats.pct(writes, 50), "write_ms_p90" -> Stats.p90(writes),
        "stmts_per_s" -> ps.map(_.stmts).sum / (ps.map(_.ms).sum / 1000),
        "retained_heap_mb" -> Stats.median(ps.map(_.heapMb)))
    }
    def samples(ps: Seq[PassStats]): Map[String, Int] = Map(
      "pass_s" -> ps.size, "read_ms" -> ps.map(_.read.size).sum,
      "read_ms_p50_queries" -> (if (w.perQueryP50) ps.flatMap(_.byStmt).map(_._1).distinct.size else 0),
      "write_ms" -> ps.map(_.write.size).sum, "stmts" -> ps.map(_.stmts).sum,
      "retained_heap_mb" -> ps.size, "setup_s" -> setupS.size)

    val errorRate = failures.size.toDouble / math.max(1L, attempted)
    val endToEnd: Map[String, (Double, String)] = if (!trace) {
      val s = stats(plain.toSeq)
      Map("setup_s" -> (Stats.median(setupS), "s"),
        "pass_s" -> (s("pass_s"), "s"),
        "read_ms_p50" -> (s("read_ms_p50"), "ms"), "read_ms_p90" -> (s("read_ms_p90"), "ms"),
        "write_ms_p50" -> (s("write_ms_p50"), "ms"), "write_ms_p90" -> (s("write_ms_p90"), "ms"),
        "stmts_per_s" -> (s("stmts_per_s"), "1/s"),
        "retained_heap_mb" -> (s("retained_heap_mb"), "MB"),
        "error_rate" -> (errorRate, "ratio"))
    } else Map.empty

    val layers: Map[String, (Double, String)] = if (trace) {
      val summary = Summary(tr.spans.toSeq, traced.size)
      val (t, u) = (stats(traced.toSeq), stats(plain.toSeq))
      val overhead = Map(
        "trace.pass_overhead_ms" -> ((t("pass_s") - u("pass_s")) * 1000, "ms"),
        "trace.read_p50_overhead_ms" -> (t("read_ms_p50") - u("read_ms_p50"), "ms"))
      val all = summary.metrics ++ overhead
      val out = Files.createDirectories(work.resolve("out"))
      Files.write(out.resolve(s"${w.name}.trace.json"), Json(Map(
        "workload" -> w.name, "seed" -> seed, "env" -> env.toMap,
        "traced_passes" -> traced.size, "untraced_passes" -> plain.size,
        "traced" -> stats(traced.toSeq), "untraced" -> stats(plain.toSeq),
        "overhead" -> overhead.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "layers" -> summary.layers,
        "statements" -> summary.statements,
        "spans" -> summary.spansJson)).getBytes(UTF_8))
      all
    } else Map.empty

    val metrics = (endToEnd ++ layers).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    val report = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> env.toMap, "correct" -> correct,
      "attempted" -> attempted, "failed" -> failures.size, "error_rate" -> errorRate,
      "failures" -> failures.map { case (id, c, m) => Map("stmt" -> id, "class" -> c, "message" -> m) },
      "checks" -> Map("passed" -> w.checksPassed, "failed" -> w.checkFailures.size,
        "failures" -> w.checkFailures.take(20)),
      "setup_s_samples" -> setupS, "warmup_pass_s" -> warmMs.map(_ / 1000),
      "measured_pass_s" -> measured.map(_.ms / 1000),
      "measured_heap_mb" -> measured.map(_.heapMb),
      "statement_ms_p50" -> measured.flatMap(_.byStmt).groupBy(_._1).map { case (k, xs) =>
        k -> Map("p50" -> Stats.median(xs.map(_._2).toSeq), "n" -> xs.size)
      },
      "samples" -> samples(if (trace) traced.toSeq else plain.toSeq),
      "metrics" -> metrics)
    val out = Files.createDirectories(work.resolve("out"))
    Files.write(out.resolve(s"${w.name}${if (trace) ".traced" else ""}.report.json"),
      Json(report).getBytes(UTF_8))
    report
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  /** The 90th percentile only when at least ten samples lie beyond its
    * interpolation position (92 samples or more); NaN (reported as null)
    * otherwise. */
  def p90(xs: Seq[Double]): Double = {
    val last = xs.size - 1
    if (last - math.floor(last * 0.9).toInt >= 10) pct(xs, 90) else Double.NaN
  }
  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON rendering for the report files and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
