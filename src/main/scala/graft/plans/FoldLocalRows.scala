package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils

/** Runs a global Sort, an Aggregate or a Union over driver-held rows (a
  * LocalRelation) on the driver and replaces it with a LocalRelation of
  * the result, the way the reference's in-memory table computes GROUP BY
  * and ORDER BY in-process (memory/table.go under the volcano executor).
  * The Engine session registers it next to Spark's ConvertToLocalRelation
  * in its extraOptimizations batch, which runs last, so a Filter, Project
  * or Limit above a folded node folds too, and a read over a stored
  * generation plans as one LocalTableScan that runs no job.
  *
  * Bounded by `Tables.fitsBroadcast` on the input's size, the rule that
  * keeps a generation on the driver at all. An Aggregate folds only when
  * every aggregate is a non-DISTINCT, FILTER-free DeclarativeAggregate,
  * evaluated with Spark's own initial/update/evaluate expressions, and
  * every grouping key compares by its bytes (collated strings keep the job
  * path). Everything else (DISTINCT and imperative aggregates, windows,
  * sortWithinPartitions, any expression that is nondeterministic or holds
  * a subquery) keeps its plan, and so does an Aggregate whose evaluation
  * throws. */
final case class FoldLocalRows(spark: SparkSession) extends Rule[LogicalPlan] {
  import FoldLocalRows.evaluable

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s: Sort if s.global && foldable(s.child) && s.order.forall(o => evaluable(o.child)) =>
      val in = s.child.asInstanceOf[LocalRelation]
      in.copy(data = in.data.sorted(new InterpretedOrdering(s.order, in.output)))
    case a: Aggregate if foldable(a.child) => aggregate(a).getOrElse(a)
    case u: Union if u.children.forall(local) && fits(u) =>
      LocalRelation(u.output, u.children.flatMap(_.asInstanceOf[LocalRelation].data))
  }

  private def local(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  private def fits(p: LogicalPlan): Boolean =
    graft.Tables.fitsBroadcast(spark, p.stats.sizeInBytes)

  private def foldable(p: LogicalPlan): Boolean = local(p) && fits(p)

  /** The aggregated rows, or None when `a` is outside the folded set. */
  private def aggregate(a: Aggregate): Option[LocalRelation] = {
    val in = a.child.asInstanceOf[LocalRelation]
    val aggs = a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)
    val fns = aggs.collect {
      case ae if !ae.isDistinct && ae.filter.isEmpty => ae.aggregateFunction
    }.collect { case f: DeclarativeAggregate => f }
    val keys = a.groupingExpressions
    val ok = fns.size == aggs.size &&
      fns.forall(f => f.deterministic &&
        (f.initialValues ++ f.updateExpressions :+ f.evaluateExpression).forall(evaluable)) &&
      keys.forall(k => evaluable(k) && UnsafeRowUtils.isBinaryStable(k.dataType))
    // the output row is the group key followed by the aggregate values;
    // grouping expressions match semantically, as the physical planner's
    // PhysicalAggregation rewrites them
    lazy val result = a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression =>
        BoundReference(keys.size + aggs.indexWhere(_.canonicalized == ae.canonicalized),
          ae.dataType, ae.nullable)
      case e if !e.foldable && keys.exists(_.semanticEquals(e)) =>
        BoundReference(keys.indexWhere(_.semanticEquals(e)), e.dataType, e.nullable)
    })
    if (!ok || !result.forall(r => r.deterministic && !r.exists(_.isInstanceOf[Unevaluable])))
      return None

    val buffer = fns.flatMap(_.aggBufferAttributes)
    val init = new InterpretedMutableProjection(fns.flatMap(_.initialValues), Nil)
    val update = new InterpretedMutableProjection(fns.flatMap(_.updateExpressions),
      buffer ++ in.output)
    val evaluate = new InterpretedMutableProjection(fns.map(_.evaluateExpression), buffer)
    val project = new InterpretedMutableProjection(result)
    // keys hash and compare as UnsafeRows with floats normalized, like
    // HashAggregateExec's
    val keyOf = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(keys.map(org.apache.spark.sql.GraftBridge.normalizeFloats), in.output))
    val groups = new java.util.LinkedHashMap[UnsafeRow, InternalRow]()
    def newBuffer(): InternalRow = init.target(new GenericInternalRow(buffer.size))(InternalRow.empty)
    // no grouping: one row even over no input (SUM NULL, COUNT 0)
    if (keys.isEmpty) groups.put(keyOf(InternalRow.empty).copy(), newBuffer())
    // an expression that throws (an overflow under ANSI, a MySQL error
    // function) leaves the plan to the job path, which raises it as before
    try {
      val joined = new JoinedRow
      in.data.foreach { row =>
        val k = keyOf(row)
        var buf = groups.get(k)
        if (buf == null) { buf = newBuffer(); groups.put(k.copy(), buf) }
        update.target(buf)(joined(buf, row))
      }
      Some(LocalRelation(a.output, groups.asScala.iterator.map { case (k, buf) =>
        project(joined(k, evaluate(buf))).copy()
      }.toVector))
    } catch { case NonFatal(_) => None }
  }
}

object FoldLocalRows {
  /** Deterministic, no subquery, and nothing but attributes left
    * unevaluable (ConvertToLocalRelation's test, plus determinism): an
    * expression the driver can evaluate row by row with the result a job
    * would give. The Engine's row-level UPDATE and DELETE apply the same
    * test to their WHERE and row image. */
  def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: AttributeReference => false
    case _: Unevaluable | _: SubqueryExpression => true
    case _ => false
  }
}
