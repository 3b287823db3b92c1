package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale contract of Dedup.connectedComponents: pointer doubling
  * must converge in O(log diameter) global rounds, not O(diameter) — on a
  * 1000-executor cluster every round is a full barrier, so a deep chain
  * under plain min-label propagation is the difference between ~6 stages
  * and ~33. Small graphs take the capped driver-local union-find fast
  * path instead (rounds = 0); both paths must produce identical labels.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  test("path graph of diameter 32 converges in O(log d) rounds with correct labels") {
    // component A: path 0-1-2-…-32 (worst case for propagation);
    // component B: triangle 100-101-102. localEdgeCap = 0 forces the
    // distributed pointer-doubling loop (the 100 TB path).
    val pathEdges = (0L until 32L).map(i => (i, i + 1))
    val triEdges = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = (pathEdges ++ triEdges).toDF("src", "dst")

    val (labels, rounds) =
      operators.Dedup.connectedComponents(edges, localEdgeCap = 0)

    // O(log d): reachable-distance recurrence d(k+1) = 2·d(k) + 2 covers 32
    // hops by round 5; +1 fixpoint-detection round. Plain propagation = 33.
    assert(rounds <= 8, s"pointer doubling took $rounds rounds (expected ≤8)")

    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 32L).foreach(v => assert(got(v) == 0L, s"path node $v labeled ${got(v)}"))
    (100L to 102L).foreach(v => assert(got(v) == 100L, s"triangle node $v labeled ${got(v)}"))
    assert(got.size == 36)
  }

  test("singleton edge and duplicate edges are stable") {
    val edges = Seq((5L, 9L), (9L, 5L), (5L, 9L)).toDF("src", "dst")
    val (labels, rounds) =
      operators.Dedup.connectedComponents(edges, localEdgeCap = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 9L -> 5L))
    assert(rounds <= 3)
  }

  test("driver-local fast path labels exactly like the distributed loop") {
    // deterministic pseudo-random graph with several components, cycles,
    // self-loops and duplicate/reversed edges
    val rnd = new scala.util.Random(42)
    val edges = ((0 until 400).map { _ =>
      val c = rnd.nextInt(7) // component bucket
      (c * 1000L + rnd.nextInt(50), c * 1000L + rnd.nextInt(50))
    } ++ Seq((3L, 3L), (9L, 3L), (3L, 9L))).toDF("src", "dst")
    val (localL, localRounds) = operators.Dedup.connectedComponents(edges)
    val (distL, _) = operators.Dedup.connectedComponents(edges, localEdgeCap = 0)
    assert(localRounds == 0, "small graph should take the local path")
    val a = localL.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = distL.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
    CacheScope.drain()
  }

  test("driver-local labels are one partition and equal the distributed loop's") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 9L)).toDF("src", "dst")
    val (localL, localRounds) = operators.Dedup.connectedComponents(edges)
    val (distL, _) = operators.Dedup.connectedComponents(edges, localEdgeCap = 0)
    assert(localRounds == 0)
    assert(localL.queryExecution.executedPlan.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(localL.rdd.getNumPartitions == 1)
    val a = localL.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = distL.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
    CacheScope.drain()
  }

  test("edge list one past the cap hands off to the distributed loop") {
    val edges = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, rounds) =
      operators.Dedup.connectedComponents(edges, localEdgeCap = 10)
    assert(rounds > 0, "past-cap graph must run distributed")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 20L).foreach(v => assert(got(v) == 0L))
    CacheScope.drain()
  }
}
