package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // java.time results (proleptic Gregorian): pre-1582 values —
      // MySQL zero-date normalizations like 0000-08-31 — round-trip
      // exactly; java.sql.Timestamp's hybrid calendar mangles them
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Counts the Spark jobs a block starts, in a listener scope of its own:
  * the bus is drained before the listener attaches and again before the
  * count is read, so neither an earlier test's jobs nor a late delivery
  * lands in it. */
object Jobs {
  def count[A](spark: SparkSession)(body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.awaitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.awaitListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** Counts the classes Spark's code generator compiles while a block runs:
  * the delta of CodegenMetrics' compile-time histogram, which takes one
  * sample per compile (a class served from the codegen cache takes none).
  * The metric is JVM-global, so the count holds while no other thread
  * compiles. */
object Compiles {
  def count[A](body: => A): (A, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    val r = body
    (r, h.getCount - before)
  }
}
