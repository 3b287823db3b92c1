package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Table access layer over the driver-generated parquet testdata.
  *
  * Mirrors the reference's catalog/table abstraction
  * (`/root/reference/sql/tables.go:22`, `sql/catalog.go`) re-expressed as
  * Spark reads: a table is a parquet file registered as a temp view; scans,
  * projection pushdown and filter pushdown are all Catalyst's business
  * (DSv2 `SupportsPushDownRequiredColumns` / `SupportsPushDownFilters`).
  *
  * Every parquet read in the engine goes through `read`, and what it costs
  * is fixed: one listing and one footer read on the driver, and no Spark
  * job. A table whose files pack into one file partition is read as one
  * partition (unless a runtime Bloom filter could use its scan), so the
  * operators above its scan plan no exchange.
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
      val raw = read(spark, s"$dir/$name.parquet")
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
    } else read(spark, s"$dir/$name.parquet")

  /** Read the parquet file or directory at `path`: the one parquet read
    * of the engine.
    *
    * The schema comes from `schema`, on the driver, so Spark's own
    * inference (a one-task job per read, even for one footer) never runs.
    * When the listing Spark's relation already holds packs into a single
    * file partition under the scan's own rule (`singlePartition`), the
    * frame is `coalesce(1)`: the scan then reports `SinglePartition`, and an
    * aggregate, window, sort or join above it needs no exchange. A
    * multi-split table keeps its partitions, and so does a table whose
    * scan the session's runtime Bloom filter could use. A path with no
    * footer to read (absent, or no data file) goes to Spark as it is,
    * which raises its own error. */
  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path) match {
      case Some(s) =>
        val df = spark.read.schema(s).parquet(path)
        if (singlePartition(spark, df)) df.coalesce(1) else df
      case None => spark.read.parquet(path)
    }

  /** The schema Spark would infer for the parquet data at `path`, read
    * from the one footer its inference reads: `_common_metadata`, else
    * `_metadata`, else the first data file in path order (hidden files,
    * `_SUCCESS` and `.crc` among them, are skipped as Spark's listing
    * skips them). It is converted under the session's parquet settings
    * (`nanosAsLong` included), so it changes with the files and with
    * them only: nothing is cached. None when there is no footer. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = GraftBridge.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filterNot(c => GraftBridge.hiddenFile(c.getPath.getName))
        .flatMap(leaves(_))
      else Seq(st)
    val files =
      try leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    val summaries = Seq("_common_metadata", "_metadata")
    val footer = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    footer.map { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(GraftBridge.sqlConf(spark)))
    }
  }

  /** Whether `df` reads as one partition: its relation's files pack into
    * one file partition under Spark's scan rule (`FilePartition.maxSplitBytes`,
    * each file split at that size, largest first, `getFilePartitions`),
    * applied to the listing the relation already holds, and no runtime
    * Bloom filter could take its scan. Plans nothing and reads no file. */
  private def singlePartition(spark: SparkSession, df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.exists { fs =>
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = dirs.flatMap(d => d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          fs.fileFormat.isSplitable(spark, fs.options, f.getPath), maxSplit, d.values)
      }).sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(spark, splits, maxSplit).size == 1 &&
        !runtimeFilterable(spark, fs.sizeInBytes)
    }

  /** Whether Spark's runtime Bloom filter (`InjectRuntimeFilter`) could use
    * a scan of `bytes` in a shuffle join under the session's settings: as
    * the side it prunes (at least `applicationSideScanSizeThreshold`), or
    * as the side it builds from (too big to broadcast, within
    * `creationSideThreshold`). The rule finds a scan only through Project,
    * Filter and Join, so a coalesced table would hide it. At Spark's
    * defaults a one-split table is neither: it is far below the 10 GB
    * application side, and the creation side's 10 MB equals the broadcast
    * threshold. */
  private def runtimeFilterable(spark: SparkSession, bytes: Long): Boolean = {
    val c = GraftBridge.sqlConf(spark)
    c.runtimeFilterBloomFilterEnabled && (
      bytes >= c.getConf(SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD) ||
      (!fitsBroadcast(spark, bytes) && bytes <= c.runtimeFilterCreationSideThreshold))
  }

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
    val threshold = GraftBridge.sqlConf(spark).autoBroadcastJoinThreshold
    threshold > 0 && bytes <= threshold
  }
}
