package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Batch + streaming IO surface of the engine.
  *
  * The reference has no real connectors — its source is an in-memory
  * `Create.of` and its sinks are log statements (`FXTimeSeriesPipelineDemo
  * .java:231-262,313-348`); README positions Pub/Sub / BigQuery / Bigtable as
  * exercises (`README.MD:23`). This module is the productionized equivalent
  * on Spark primitives, with the two knobs that matter at 100 TB:
  *
  *  - **partitioned parquet** — writes laid out by a partition column enable
  *    partition pruning: a reader filtering on that column touches only its
  *    directories (visible as PartitionFilters in the scan node);
  *  - **bucketed tables** — writes hash-bucketed (and optionally sorted) by
  *    join key let repeated joins/aggregations on that key run with ZERO
  *    exchange: both sides are already co-partitioned on disk. For a fact
  *    table joined every day on the same key, this converts the dominant
  *    shuffle into a local merge.
  *
  * All readers take explicit schemas — schema inference reads data twice and
  * guesses types; at scale both are unacceptable.
  */
object IO {

  // ------------------------------------------------------------------ batch

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Parquet write, optionally laid out for partition pruning. */
  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** CSV write, value-preserving: Spark's writer TRIMS unquoted leading/
    * trailing whitespace by default (ignore*WhiteSpace=true on write,
    * unlike read) — silently lossy for text payloads, so the seam turns
    * that off. Empty-vs-null remains CSV's inherent ambiguity (IOSpec
    * pins empty → null on read-back).
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** ORC, the other columnar interchange format Spark ships natively —
    * same pushdown/pruning machinery as parquet (predicate pushdown via
    * ORC's own row-group stats), so a lake standardized on ORC loses
    * nothing at the scan layer.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** Schema-evolution read: union several parquet roots written at
    * different schema generations into one DataFrame whose schema is the
    * UNION of all file schemas (columns absent in older files surface as
    * nulls). This is Spark's per-file `mergeSchema` machinery — the read
    * stays a plain columnar scan with pushdown/pruning intact; only the
    * footer reconciliation pass is extra, which is why lakes leave it off
    * by default and turn it on exactly here, at generation boundaries.
    */
  def readParquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Hash-bucketed (and sorted) managed table: joins and aggregations on
    * `bucketCols` between tables bucketed the same way need no exchange —
    * the shuffle happened once, at write time.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  // -------------------------------------------------------------- streaming

  /** File-based streaming source: picks up files as they land in `path` —
    * the batch→streaming bridge (a candle job can stream another job's
    * parquet output).
    */
  def readStreamParquet(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Append-mode parquet sink with checkpointing — the durable streaming
    * sink (exactly-once per epoch via the checkpoint + file-manifest commit).
    */
  def writeStreamParquet(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(trigger).start()

  /** LIVE streaming source: the built-in `rate` source mapped to the tick
    * schema — a self-contained live feed for wiring demos, soak tests and
    * latency smoke checks with no external broker. `rate` emits
    * `rowsPerSecond` rows with monotone wall-clock timestamps from
    * `numPartitions` tasks, so watermarks advance and windows close exactly
    * as on a real feed; the whole candle/correlation pipeline runs unchanged
    * on top (`FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs) {
    * StreamingCandles.candles(IO.readStreamRateTicks(spark), …)…start() }`
    * — the candle state needs the RocksDB provider at query start).
    *
    * The reference positions Pub/Sub as its production source
    * (`README.MD:23`); the Spark equivalent is the Kafka connector —
    * `spark.readStream.format("kafka")` + the same `.select` reshaping —
    * whose jars (`spark-sql-kafka-0-10`) are not on this offline classpath,
    * so the plumbing is demonstrated on `rate`, the connector Spark ships
    * in-core. Prices are a deterministic function of the row counter
    * (per-key sinusoid + drift), bid ≤ ask by construction.
    */
  def readStreamRateTicks(spark: SparkSession, rowsPerSecond: Int = 100,
      nKeys: Int = 5, numPartitions: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions._
    val bid = lit(100.0) + (col("value") % nKeys).cast("double") * 10.0 +
      sin(col("value").cast("double") / 20.0) * 2.0
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .option("numPartitions", numPartitions.toLong)
      .load()
      .select(
        concat(lit("R"), (col("value") % nKeys).cast("string")).as("key"),
        col("timestamp").as("ts"),
        bid.as("bidPrice"),
        (bid + 0.02).as("askPrice"),
        lit(true).as("isLive"))
  }
}
