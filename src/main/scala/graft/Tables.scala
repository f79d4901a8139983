package graft

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import graft.sources.MetaTable

/** Loaders for the driver-generated star schema (see TESTDATA.md).
  *
  * Each table is a parquet file (or a directory of them) under the
  * per-SF dir. Readers go through `spark.read.parquet` so Catalyst gets
  * pushdown + pruning for free; never cache here — let each query
  * decide. The schema is passed in, read from one footer on the driver:
  * inferring it costs a Spark job per read.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema Spark's non-merging parquet inference returns for
    * `path`, without its job: the footer of the first data file by
    * Spark's listing rule, converted by Spark's own footer reader under
    * the session's parquet settings (so `nanosAsLong` still applies). */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val file = MetaTable.dataFiles(spark, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file at $path"))
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The driver's events.parquet `ts` physical type has varied by
    * round: TIMESTAMP(NANOS) (rejected by Spark's reader — read nanos
    * as long, integer-DIV to µs), then naive timestamp[us] (reads as
    * TIMESTAMP_NTZ, which Structured Streaming watermarks reject).
    * Normalize every variant to TIMESTAMP (LTZ) — under the engine's
    * fixed UTC session zone the NTZ→LTZ cast reinterprets the same
    * wall-clock as the same instant, so values are unchanged and both
    * batch oracles and streaming watermarks see the type they expect. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
