package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Per-thread registry of persisted intermediates.
  *
  * Operator pipelines persist frames that are read more than once inside a
  * single query's DAG (LSH signatures, k-means centroids, n-gram caches).
  * The persist is correct *within* one query, but a long-lived session that
  * runs hundreds of queries would otherwise accrete cached partitions until
  * LRU eviction churn taxes unrelated queries — the builder's min-of-N
  * bench and the driver's single sweep diverged 45 s vs 67 s on exactly
  * this (r10 verdict, tail-end 2–4× spikes on tpch_q16/q20/q21/q22).
  *
  * Usage: query code wraps each persist as `CacheScope.track(df.persist())`;
  * the harness (Bench / Verify / tests) calls [[drain]] once the query's
  * result is materialized. Tracking is thread-local so Verify's concurrent
  * per-query futures cannot release each other's in-flight caches. Draining
  * is safe at any time — an unpersisted frame recomputes from lineage — so
  * a missed drain costs memory, never correctness.
  */
object CacheScope {
  private val tracked = new ThreadLocal[ArrayBuffer[() => Unit]] {
    override def initialValue(): ArrayBuffer[() => Unit] = ArrayBuffer.empty
  }

  /** Register a persisted Dataset for release at the next [[drain]]. */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    tracked.get() += (() => { ds.unpersist(false); () })
    ds
  }

  /** Register a persisted RDD (the connected-components label frontier). */
  def track[T](rdd: RDD[T]): RDD[T] = {
    tracked.get() += (() => { rdd.unpersist(false); () })
    rdd
  }

  /** Non-blocking unpersist of everything tracked on this thread. */
  def drain(): Unit = {
    val buf = tracked.get()
    buf.foreach(f => try f() catch { case NonFatal(_) => () })
    buf.clear()
  }
}
