package sqlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One timed call into a layer. Counters hold what was recorded at the
  * same boundaries: Spark job/task metrics of the jobs the call launched,
  * planner phases, JVM and codegen deltas. */
final class Span(val id: Int, val parent: Int, val layer: String,
    val name: String, val stmt: String, val start: Long) {
  var end: Long = start
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def ms: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out at the end of the run. When `on` is false every method is a
  * pass-through, so untraced passes pay only a field read per call.
  *
  * Jobs are attributed to the innermost open span through a Spark local
  * property, which Spark copies onto every job the calling thread (or a
  * broadcast/subquery thread it spawns) submits. The task listener is
  * registered only in traced runs (`listen`), for their whole length.
  */
final class Tracer(sc: SparkContext, listen: Boolean) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val Prop = "sqlbench.span"

  private val listener = new TaskListener
  if (listen) sc.addSparkListener(listener)

  def span[A](layer: String, name: String, stmt: String = "")(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), layer, name,
        if (stmt.nonEmpty) stmt else parent.map(_.stmt).getOrElse(""),
        System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Record `k` on the innermost open span. */
  def count(k: String, v: Double): Unit = if (on) stack.headOption.foreach(_.add(k, v))

  /** A statement span: also records the JVM and codegen deltas across it. */
  def stmt[A](layer: String, name: String, id: String)(body: => A): A =
    if (!on) body
    else {
      val before = Tracer.processCounters()
      span(layer, name, id) {
        try body
        finally Tracer.processCounters().foreach { case (k, v) =>
          stack.head.add(k, v - before(k))
        }
      }
    }

  /** Force physical planning and record the tracker's phase times. The
    * tracker has millisecond resolution; phases that did not run on this
    * QueryExecution read 0. */
  def plan(df: DataFrame): Unit = if (on) span("planner", "executedPlan") {
    df.queryExecution.executedPlan
    phases(df, Seq("optimization", "planning"))
  }

  def phases(df: DataFrame, names: Seq[String]): Unit = if (on) {
    val ph = df.queryExecution.tracker.phases
    names.foreach { n =>
      count(s"$n.ms", ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0))
    }
  }

  /** `InMemoryTableScan` nodes in the AQE-final plan (subqueries and
    * query stages included). */
  def scanNodes(df: DataFrame): Unit = if (on) {
    def walk(p: SparkPlan): Int = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: InMemoryTableScanExec => 1
        case _ => 0
      }
      here + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    count("cache.scan_nodes", walk(df.queryExecution.executedPlan).toDouble)
  }

  /** Wait until the listener has seen the end of every job it saw start
    * and the bus has been quiet briefly, then move its counters onto the
    * spans; call after a traced pass, outside timed regions. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var quietSince = System.nanoTime()
    var seen = listener.events.get
    while (System.nanoTime() < deadline &&
        (listener.started.get > listener.ended.get ||
          System.nanoTime() - quietSince < 50000000L)) {
      Thread.sleep(2)
      val now = listener.events.get
      if (now != seen) { seen = now; quietSince = System.nanoTime() }
    }
    listener.drainInto(spans)
  }

  def close(): Unit = if (listen) sc.removeSparkListener(listener)

  /** Collects per-task metrics keyed by the span id of the submitting
    * call. Runs on Spark's listener thread. */
  private final class TaskListener extends SparkListener {
    val started = new java.util.concurrent.atomic.AtomicLong
    val ended = new java.util.concurrent.atomic.AtomicLong
    val events = new java.util.concurrent.atomic.AtomicLong
    private val stageSpan = new ConcurrentHashMap[Int, Int]
    private val pending = new ConcurrentHashMap[Int, mutable.Map[String, Double]]

    private def acc(span: Int, k: String, v: Double): Unit = {
      val m = pending.computeIfAbsent(span, _ => mutable.Map.empty[String, Double])
      m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet(); events.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val span = s.toInt
        acc(span, "jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      ended.incrementAndGet(); events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val id = e.stageInfo.stageId
      if (stageSpan.containsKey(id)) acc(stageSpan.get(id), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) {
        val span = stageSpan.get(e.stageId)
        acc(span, "tasks", 1)
        acc(span, "task_cpu_ms", m.executorCpuTime / 1e6)
        acc(span, "task_gc_ms", m.jvmGCTime.toDouble)
        acc(span, "input_rows", m.inputMetrics.recordsRead.toDouble)
        acc(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        acc(span, "bytes_written", m.outputMetrics.bytesWritten.toDouble)
        acc(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        acc(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        acc(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        acc(span, "result_bytes", m.resultSize.toDouble)
      }
    }

    def drainInto(spans: mutable.ArrayBuffer[Span]): Unit =
      pending.keySet.asScala.toList.foreach { id =>
        val m = pending.remove(id)
        if (id >= 0 && id < spans.size) m.synchronized {
          m.foreach { case (k, v) => spans(id).add(s"${spans(id).layer}.$k", v) }
        }
      }
  }
}

object Tracer {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Double = gcs.map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double =
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0

  /** Codegen compiles (exact count) and their summed compile time. The
    * histogram keeps every sample until its reservoir (1028) fills; past
    * that the sum is the count times the reservoir mean. */
  def codegen: (Double, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n
    (n.toDouble, sum)
  }

  def processCounters(): Map[String, Double] = {
    val (n, ms) = codegen
    Map("jvm.gc_ms" -> gcMs, "jvm.jit_ms" -> jitMs,
      "codegen.compiles" -> n, "codegen.compile_ms" -> ms)
  }

  /** Driver heap in use after a full GC. The first GC queues the weak
    * references Spark's ContextCleaner acts on; the pause lets it release
    * the broadcasts and shuffles behind them, and the second GC frees them. */
  def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
