package sqlbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables with the schemas `graft.Tables` reads:
  * a TPC-H-like star schema plus the `events`, `documents` and
  * `embeddings` tables of the LLM-pipeline operators.
  *
  * Every value is a pure function of the row id and a fixed data seed
  * (xxhash64-based), so the same scale factor always yields byte-identical
  * contents regardless of partitioning. The committed pipeline checksums
  * depend on this: bump [[Version]] whenever a generated value changes.
  */
object DataGen {
  val Version = "g1"
  private val DataSeed = 42L

  /** Row counts at scale factor `sf`, TPC-H proportions. */
  def counts(sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Map(
      "region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000), "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(6000000),
      "events" -> n(1000000), "documents" -> n(50000),
      "embeddings" -> math.max(500L, n(20000)))
  }

  /** Directory holding the tables at `sf`, generated on first use. */
  def ensure(spark: SparkSession, root: Path, sf: Double): String = {
    val dir = root.resolve(s"$Version-sf$sf")
    if (!Files.isDirectory(dir)) {
      val tmp = root.resolve(s"$Version-sf$sf.tmp-${ProcessHandle.current.pid}")
      val c = counts(sf)
      tables(spark, c).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .option("compression", "snappy")
          .parquet(tmp.resolve(s"$name.parquet").toString)
      }
      Files.move(tmp, dir)
    }
    dir.toString
  }

  // uniform [0, 1) and integer [0, m) draws keyed by (row id, salt)
  private def h(salt: Int, id: Column): Column =
    xxhash64(id, lit(DataSeed), lit(salt))
  private def u(salt: Int, id: Column = col("id")): Column =
    h(salt, id).bitwiseAND(lit(Long.MaxValue)).cast("double") / lit(9.223372036854776e18)
  private def r(salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(h(salt, id), lit(m))
  private def pick(salt: Int, values: Seq[String], id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), r(salt, values.size.toLong, id).cast("int") + 1)
  private def money(c: Column): Column = round(c, 2)
  private def day(base: String, salt: Int, span: Long): Column =
    date_add(lit(base).cast("date"), r(salt, span).cast("int")).cast("timestamp")

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")

  private def tables(spark: SparkSession, c: Map[String, Long]): Seq[(String, DataFrame)] = {
    def range(t: String) = spark.range(c(t))
    val region = spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = range("customer").select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      r(1, 25).cast("int").as("c_nationkey"),
      money(lit(-999.99) + u(2) * 10999.98).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = range("supplier").select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      r(4, 25).cast("int").as("s_nationkey"),
      money(lit(-999.99) + u(5) * 10999.98).as("s_acctbal"))
    val part = range("part").select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), r(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (r(10, 50) + 1).cast("int").as("p_size"),
      money(lit(900.0) + (col("id") % 1000) * 0.1).as("p_retailprice"))
    val orders = range("orders").select(
      col("id").as("o_orderkey"),
      r(11, c("customer")).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(lit(1000.0) + u(13) * 499000.0).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val qty = (r(19, 50) + 1).cast("double")
    val lineitem = range("lineitem").select(
      r(16, c("orders")).as("l_orderkey"),
      r(17, c("part")).as("l_partkey"),
      r(18, c("supplier")).as("l_suppkey"),
      (r(20, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      money(qty * (lit(900.0) + u(21) * 1200.0)).as("l_extendedprice"),
      (r(22, 11).cast("double") / 100).as("l_discount"),
      (r(23, 9).cast("double") / 100).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 26, 2498).as("l_shipdate"))
    val nEvents = c("events")
    val events = range("events").select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * lit(2592000000000L / nEvents)) + r(27, 60000000L)).as("ts"),
      r(28, math.max(1L, c("customer") / 10)).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(lit(0.01) + u(30) * 490.0).as("value"),
      concat(lit("{\"k\": "), r(31, 100), lit("}")).as("props"))
    // ~5% of documents repeat an earlier document's text plus " dup"
    val isDup = col("id") > 0 && r(32, 20) === 0
    val tid = when(isDup, r(33, 1L << 40) % col("id")).otherwise(col("id"))
    val words = transform(sequence(lit(1), (r(34, 91, tid) + 10).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(tid, i, lit(DataSeed)), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = concat(concat_ws(" ", words), when(isDup, lit(" dup")).otherwise(lit("")))
    val documents = range("documents").select(
      col("id").as("doc_id"), text.as("text"),
      pick(35, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val raw = transform(sequence(lit(0), lit(63)),
      i => (pmod(xxhash64(col("id"), i, lit(DataSeed + 1)), lit(2000001L)) - 1000000)
        .cast("double"))
    val embeddings = range("embeddings")
      .select(col("id").as("vec_id"), raw.as("raw"), r(36, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
