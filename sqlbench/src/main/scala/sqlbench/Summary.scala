package sqlbench

import scala.collection.mutable

/** Per-layer summary of the traced passes: span time, self time (span
  * time minus the part its child spans cover) and the counters recorded
  * at the same boundaries, reported per traced pass. */
final case class Summary(spans: Seq[Span], passes: Int) {
  private val children = spans.groupBy(_.parent)
  private def self(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
  private def calls(layer: String) = spans.filter(s => s.layer == layer && s.name != "plan_nodes")
  private def counter(k: String): Double = spans.map(_.counters.getOrElse(k, 0.0)).sum
  private def perPass(v: Double) = v / math.max(1, passes)

  private val fd = calls("frontdoor")
  private val rewriteMs = fd.map(s => math.max(0.0,
    s.ms - s.counters.getOrElse("parsing.ms", 0.0) - s.counters.getOrElse("analysis.ms", 0.0))).sum
  private val planNodes = spans.filter(_.name == "plan_nodes").map(_.counters("dml.plan_nodes"))
  private val rowsOut = counter("exec.rows_out")
  private val nStatements = spans.count(_.layer == "client")

  /** The per_layer metrics, each per traced pass unless noted. */
  val metrics: Map[String, (Double, String)] = {
    val ms = Seq(
      "frontdoor.call_ms" -> fd.map(_.ms).sum,
      "frontdoor.rewrite_ms" -> rewriteMs,
      "planner.parse_ms" -> counter("parsing.ms"),
      "planner.analysis_ms" -> counter("analysis.ms"),
      "planner.optimization_ms" -> counter("optimization.ms"),
      "planner.planning_ms" -> counter("planning.ms"),
      "codegen.compile_ms" -> counter("codegen.compile_ms"),
      "dml.call_ms" -> calls("dml").map(_.ms).sum,
      "exec.ms" -> calls("exec").map(_.ms).sum,
      "exec.task_cpu_ms" -> counter("exec.task_cpu_ms"),
      "exec.task_gc_ms" -> counter("exec.task_gc_ms"),
      "cache.drain_ms" -> calls("cache").map(_.ms).sum,
      "jvm.gc_ms" -> counter("jvm.gc_ms"),
      "jvm.jit_ms" -> counter("jvm.jit_ms"))
    val counts = Seq("frontdoor.jobs", "codegen.compiles", "dml.jobs", "exec.jobs",
      "exec.stages", "exec.tasks", "exec.input_rows", "exec.rows_out", "cache.blocks",
      "cache.scan_nodes").map(k => k -> counter(k))
    val bytes = Seq("dml.bytes_written", "exec.input_bytes", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.result_bytes", "cache.mem_bytes",
      "cache.disk_bytes").map(k => k -> counter(k))
    (ms.map { case (k, v) => k -> (perPass(v), "ms") } ++
      counts.map { case (k, v) => k -> (perPass(v), "count") } ++
      bytes.map { case (k, v) => k -> (perPass(v), "bytes") }).toMap ++ Map(
      // a size per write and a ratio, not per-pass sums
      "dml.plan_nodes" -> (if (planNodes.isEmpty) 0.0 else planNodes.sum / planNodes.size, "count"),
      "exec.rows_read_per_row_out" ->
        (counter("exec.input_rows") / math.max(1.0, rowsOut), "ratio"),
      "client.statements" -> (perPass(nStatements), "count"))
  }

  /** Per layer: calls, span and self time, every counter; ratios with
    * their bases. */
  def layers: Map[String, Any] = spans.groupBy(_.layer).map { case (layer, ss) =>
    val cs = mutable.LinkedHashMap.empty[String, Double]
    ss.foreach(_.counters.foreach { case (k, v) => cs(k) = cs.getOrElse(k, 0.0) + v })
    layer -> Map(
      "calls" -> ss.size,
      "total_ms" -> ss.map(_.ms).sum,
      "self_ms" -> ss.map(self).sum,
      "per_pass_total_ms" -> perPass(ss.map(_.ms).sum),
      "per_pass_self_ms" -> perPass(ss.map(self).sum),
      "counters" -> cs)
  } ++ Map("ratios" -> Map(
    "exec.rows_read_per_row_out" -> Map("value" -> counter("exec.input_rows") / math.max(1.0, rowsOut),
      "input_rows" -> counter("exec.input_rows"), "rows_out" -> rowsOut),
    "frontdoor.jobs_per_statement" -> Map("value" -> counter("frontdoor.jobs") / math.max(1, nStatements),
      "jobs" -> counter("frontdoor.jobs"), "statements" -> nStatements),
    "frontdoor.rewrite_share" -> Map("value" -> rewriteMs / math.max(1e-9, fd.map(_.ms).sum),
      "rewrite_ms" -> rewriteMs, "call_ms" -> fd.map(_.ms).sum),
    "dml.plan_nodes" -> Map("mean" -> metrics("dml.plan_nodes")._1, "max" ->
      (if (planNodes.isEmpty) 0.0 else planNodes.max), "writes" -> planNodes.size)))

  /** Per statement shape (the query name, or the OLTP statement kind):
    * calls and self time per layer. */
  def statements: Map[String, Any] = {
    val byStmt = spans.filter(_.stmt.nonEmpty).groupBy(s => s.stmt.split('.').last)
    byStmt.map { case (k, ss) =>
      k -> Map("calls" -> ss.count(_.layer == "client"),
        "total_ms" -> ss.filter(_.layer == "client").map(_.ms).sum,
        "self_ms" -> ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(self).sum })
    }
  }

  def spansJson: Seq[Map[String, Any]] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "stmt" -> s.stmt, "start_ms" -> (s.start - t0) / 1e6,
      "ms" -> s.ms, "self_ms" -> self(s), "counters" -> s.counters))
  }
}
