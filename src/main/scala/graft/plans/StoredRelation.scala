package graft.plans

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}

/** The rows of one driver-held table generation and their size in bytes,
  * measured once. Not a Seq, and equal only to itself: Spark's walks over
  * a node's constructor arguments (expressions, resolved, mapExpressions,
  * equals, hashCode) pass it by without touching a row, where they walk a
  * LocalRelation's `data` element by element. */
final class Generation private (val rows: Vector[UnsafeRow], val bytes: Long) {
  override def toString: String = s"${rows.length} rows, $bytes bytes"
}

object Generation {
  def apply(rows: Vector[UnsafeRow]): Generation = {
    var bytes = 0L
    val it = rows.iterator
    while (it.hasNext) bytes += it.next().getSizeInBytes
    new Generation(rows, bytes)
  }
}

/** A table generation held on the driver (`Engine.storeGeneration`), the
  * reference's in-memory table (memory/table_data.go). `FoldLocalRows`
  * folds the Project/Filter chain above it and turns what is left into a
  * LocalRelation in the Engine session's last optimizer batch, so the
  * physical planner only sees a LocalRelation. */
final case class StoredRelation(output: Seq[Attribute], gen: Generation)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): StoredRelation = copy(output = output.map(_.newInstance()))
  override def maxRows: Option[Long] = Some(gen.rows.length.toLong)
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = gen.bytes, rowCount = Some(gen.rows.length))
}
