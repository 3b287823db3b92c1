package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as `Column`s and SQL functions. This is the same
  * access pattern third-party Spark extensions use; everything referenced
  * here is public Spark source (columnNodeSupport.scala).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Wrap a transformed logical plan back into a DataFrame (the standard
    * Dataset.ofRows entry used by every Spark connector). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed plan a DataFrame temp view was created from, as the
    * catalog holds it (None for a missing view or one kept as SQL text). */
  def tempViewPlan(spark: SparkSession, name: String)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getRawTempView(name).flatMap(_.plan)

  /** Parse SQL text to an unresolved logical plan (the sql() front half,
    * exposed so a pre-analysis rewrite can run before resolution). */
  def parsePlan(spark: SparkSession, text: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parsePlan(text)

  /** Block until the listener bus has delivered every event posted so
    * far: SparkListener callbacks run on the bus thread, after the job
    * that posted them has returned. */
  def awaitListenerBus(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** `e` with -0.0 and NaN normalized, as the physical planner rewrites
    * aggregate grouping keys (NormalizeFloatingNumbers.normalize). */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The session's SQL settings. */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** A Hadoop configuration carrying the session's settings, as a file
    * source builds one for its reads. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Whether a file source's listing skips a file of this name: `_`- and
    * `.`-prefixed names (`_SUCCESS`, `.crc`) but the parquet summaries. */
  def hiddenFile(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
