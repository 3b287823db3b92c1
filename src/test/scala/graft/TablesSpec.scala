package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Pins what `Tables.read` costs: no Spark job for the schema, the schema
  * Spark itself would infer, and one partition (so no exchange above the
  * scan) exactly when the table's files pack into one file partition. */
class TablesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkSpec.{sfDir, spark}

  private def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tables_$tag").resolve("t").toString

  /** The AQE-final physical plan of `df` after running it once. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(df: DataFrame): Int =
    collect(finalPlan(df)) { case s: ShuffleExchangeExec => s }.size

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("reading a fixture table runs no job, with the schema Spark infers") {
    Tables.names.foreach { n =>
      val path = s"$sfDir/$n.parquet"
      val (df, jobs) = Jobs.count(spark)(Tables.t(spark, sfDir, n))
      assert(jobs == 0, s"$n: Tables.t ran $jobs jobs")
      // events is read under nanosAsLong (Tables.t sets it), and Spark's
      // inference must see the same setting
      if (n == "events") spark.conf.set(nanosAsLong, "true")
      val inferred = spark.read.parquet(path).schema
      assert(Tables.schema(spark, path).contains(inferred), n)
      if (n != "events") assert(df.schema == inferred, n)
    }
  }

  test("a Spark-written directory with _SUCCESS and .crc files reads its footer") {
    val dir = scratchDir("spark")
    spark.range(0, 50).selectExpr("id", "cast(id AS string) AS s", "id * 0.5 AS d")
      .coalesce(1).write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val (df, jobs) = Jobs.count(spark)(Tables.read(spark, dir))
    assert(jobs == 0, s"Tables.read ran $jobs jobs")
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.agg(sum("id")).head().getLong(0) == 1225L)
  }

  test("a directory rewritten with another schema is read with the new one") {
    val dir = scratchDir("rewrite")
    spark.range(0, 3).selectExpr("cast(id AS int) AS a").write.parquet(dir)
    assert(Tables.read(spark, dir).schema.fieldNames.toSeq == Seq("a"))
    spark.range(0, 4).selectExpr("cast(id AS string) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(dir)
    val df = Tables.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.agg(sum("c")).head().getLong(0) == 12L)
  }

  test("GROUP BY over a one-split table plans no shuffle") {
    val orders = Tables.t(spark, sfDir, "orders")
    assert(orders.rdd.getNumPartitions == 1)
    val q = orders.groupBy("o_custkey").agg(count("*").as("n"))
    assert(shuffles(q) == 0, q.queryExecution.executedPlan.treeString)
    assert(q.agg(sum("n")).head().getLong(0) == orders.count())
  }

  test("a one-split table keeps its scan where a runtime Bloom filter could prune it") {
    // InjectRuntimeFilter finds a scan only through Project, Filter and
    // Join; a session whose application-side threshold admits a table of
    // this size must see the plain scan, so its GROUP BY shuffles again
    val s2 = spark.newSession()
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val q = Tables.t(s2, sfDir, "orders").groupBy("o_custkey").agg(count("*").as("n"))
    assert(shuffles(q) >= 1, q.queryExecution.executedPlan.treeString)
  }

  test("a multi-split table keeps its partitions and its exchange") {
    val dir = scratchDir("multi")
    spark.range(0, 40000).selectExpr("id", "id % 97 AS k", "uuid() AS u")
      .repartition(2).write.parquet(dir)
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(maxBytes)
    spark.conf.set(maxBytes, "65536")
    try {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length >= 2 && files.forall(_.length > 65536),
        files.map(_.length).toSeq)
      val df = Tables.read(spark, dir)
      val plain = spark.read.parquet(dir).rdd.getNumPartitions
      assert(plain > 1)
      assert(df.rdd.getNumPartitions == plain)
      val q = df.groupBy("k").agg(count("*").as("n")).filter(col("n") > 0)
      assert(shuffles(q) >= 1, q.queryExecution.executedPlan.treeString)
      assert(q.count() == 97)
    } finally before match {
      case Some(v) => spark.conf.set(maxBytes, v)
      case None => spark.conf.unset(maxBytes)
    }
  }
}
