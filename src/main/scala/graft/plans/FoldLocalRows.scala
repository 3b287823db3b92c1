package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils

/** Evaluates reads of driver-held rows on the driver, the way the
  * reference's in-memory table filters and groups in-process
  * (sql/plan/filter.go, memory/table.go under the volcano executor):
  *
  *  - the Project/Filter chain above a `StoredRelation` becomes a
  *    LocalRelation of the matching rows, projected: the filters run
  *    first, interpreted (`rowTest`: no class is generated, so a fresh
  *    literal compiles nothing), and only the matching rows are
  *    projected. A `StoredRelation` nothing folded (under a join or a
  *    window, or below a filter or projection that is not `evaluable`)
  *    becomes `LocalRelation(output, rows)`;
  *  - a global Sort, an Aggregate or a Union over a LocalRelation becomes
  *    a LocalRelation of the result.
  *
  * Spark's own ConvertToLocalRelation matches only a LocalRelation, so
  * the "LocalRelation early" batch leaves a `StoredRelation` alone. The
  * Engine session registers this rule next to ConvertToLocalRelation in
  * its extraOptimizations batch, which runs last, so a Filter, Project or
  * Limit above a folded node folds too, and a read over a stored
  * generation plans as one LocalTableScan that runs no job.
  *
  * Sort, Aggregate and Union are bounded by `Tables.fitsBroadcast` on the
  * input's size, the rule that keeps a generation on the driver at all.
  * An Aggregate folds only when every aggregate is a non-DISTINCT,
  * FILTER-free DeclarativeAggregate, evaluated with Spark's own
  * initial/update/evaluate expressions, and every grouping key compares
  * by its bytes (collated strings keep the job path). Everything else
  * (DISTINCT and imperative aggregates, windows, sortWithinPartitions,
  * any expression that is nondeterministic or holds a subquery) keeps its
  * plan, and so does an Aggregate whose evaluation throws. */
final case class FoldLocalRows(spark: SparkSession) extends Rule[LogicalPlan] {
  import FoldLocalRows.{evaluable, rowTest}

  // with subqueries: a runtime filter or a dynamic pruning subquery made
  // in an earlier batch may hold a copy of a join side; a bare relation
  // matches as a chain of no filter and its own output
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
    case PhysicalOperation(fields, filters, s: StoredRelation)
        if (fields ++ filters).forall(evaluable) => scan(fields, filters, s)
  }.transformUp {
    case s: Sort if s.global && foldable(s.child) && s.order.forall(o => evaluable(o.child)) =>
      val in = s.child.asInstanceOf[LocalRelation]
      in.copy(data = in.data.sorted(new InterpretedOrdering(s.order, in.output)))
    case a: Aggregate if foldable(a.child) => aggregate(a).getOrElse(a)
    case u: Union if u.children.forall(local) && fits(u) =>
      LocalRelation(u.output, u.children.flatMap(_.asInstanceOf[LocalRelation].data))
  }

  /** The stored rows `filters` keep, projected to `fields`. */
  private def scan(fields: Seq[NamedExpression], filters: Seq[Expression],
                   s: StoredRelation): LocalRelation = {
    val kept = filters.reduceOption(And)
      .fold(s.gen.rows)(cond => s.gen.rows.filter(rowTest(cond, s.output)))
    if (fields == s.output) LocalRelation(s.output, kept)
    else {
      val project = new InterpretedMutableProjection(fields, s.output)
      project.initialize(0)
      LocalRelation(fields.map(_.toAttribute), kept.map(project(_).copy()))
    }
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
    * would give. The stored-row fold applies it to a read's filters and
    * projection, the Engine's row-level UPDATE and DELETE to their WHERE
    * and row image. */
  def evaluable(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: AttributeReference => false
    case _: Unevaluable | _: SubqueryExpression => true
    case _ => false
  }

  /** An `evaluable` condition bound to `output` as a row test, NULL
    * counting as false, evaluated by the expression tree itself. Spark's
    * InterpretedPredicate does the same but also clears its
    * subexpression cache (a Guava `invalidateAll`) before every row,
    * which costs more than the comparison of a point read. */
  def rowTest(cond: Expression, output: Seq[Attribute]): InternalRow => Boolean = {
    val bound = BindReferences.bindReference(cond, output)
    row => bound.eval(row).asInstanceOf[Boolean]
  }
}
