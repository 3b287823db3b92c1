package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer over the driver-generated parquet testdata.
  *
  * Mirrors the reference's catalog/table abstraction
  * (`/root/reference/sql/tables.go:22`, `sql/catalog.go`) re-expressed as
  * Spark reads: a table is a parquet file registered as a temp view; scans,
  * projection pushdown and filter pushdown are all Catalyst's business
  * (DSv2 `SupportsPushDownRequiredColumns` / `SupportsPushDownFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table. Column pruning/filter pushdown happen automatically.
    *
    * `events.ts` is written as parquet INT64 TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects; we read it as raw nanos and re-expose it as a
    * microsecond TimestampType column (same instants, µs truncation).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      // the generator has shipped two schemas for ts: INT64
      // TIMESTAMP(NANOS) (read as raw nanos under nanosAsLong) and plain
      // timestamp[us] (read as TIMESTAMP_NTZ); normalize both to a µs
      // TimestampType column carrying the same instants
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer `div`, not `/`: ns-since-epoch (~1.7e18) exceeds
          // double's 53-bit mantissa, so floating division would corrupt
          // the low digits
          raw.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view so `spark.sql` queries resolve
    * names exactly like the reference's session catalog does. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Register just the named tables (cheaper for single-query use: no
    * file-listing of the other parquet sources). */
  def register(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Size-gated broadcast hint for dimension sides whose size grows with
    * scale factor (customer / supplier / part). A forced `broadcast()` on
    * an sf-linear table is a driver OOM at 100×; an unconditional shuffle
    * wastes the small-dim case. So: hint only when the optimizer's own
    * size estimate fits under the session's autoBroadcastJoinThreshold —
    * the same size-based physical-join choice the reference's coster
    * makes (/root/reference/sql/memo/coster.go:58-151). Above the
    * threshold the plan is left unhinted and AQE/CBO picks the join
    * (including a runtime broadcast demotion/promotion at actual sizes).
    *
    * Constant-size dims (nation=25, region=5, single-row scalar frames)
    * keep their unconditional `broadcast()` hints — those are scale-safe
    * by construction. */
  def dim(df: DataFrame): DataFrame =
    if (fitsBroadcast(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes))
      org.apache.spark.sql.functions.broadcast(df)
    else df

  /** The one "small enough for the driver" rule: `bytes` (an optimizer
    * estimate or a measured size) fits under the session's
    * autoBroadcastJoinThreshold, and broadcasting is enabled. `dim` and
    * the DML write path (`Engine.replaceTable`) both gate on it. */
  def fitsBroadcast(spark: SparkSession, bytes: BigInt): Boolean = {
    val threshold = org.apache.spark.sql.GraftBridge.autoBroadcastThreshold(spark)
    threshold > 0 && bytes <= threshold
  }
}
