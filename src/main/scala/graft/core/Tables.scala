package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, graftshim}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Typed loaders for the harness-provided parquet tables.
  *
  * All readers are plain `spark.read.parquet` scans so Catalyst keeps full
  * pushdown/pruning freedom; callers select/filter declaratively.
  *
  * The reader is handed the table's schema, read on the driver from one
  * parquet footer ([[parquetSchema]]). Left to infer it, `spark.read`
  * starts a Spark job per call to read that same footer, and at benchmark
  * scale a job costs more than the footer read: a `training_iter` pass
  * reads three tables.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, without its job: the
    * same per-footer conversion (`ParquetFileFormat.readSchemaFromFooter`
    * under the session's parquet settings, `nanosAsLong` included) on the
    * footer Spark's non-merging inference reads — the file itself, or a
    * directory's first data file. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = graftshim.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // inference reports every field nullable; a given schema is kept as is
    graftshim.asNullable(ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(graftshim.sqlConf(spark))))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` is nanosecond-precision parquet, which Spark 4 only reads
    * with `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * [[GraftSession]]); normalize the resulting long back to a timestamp
    * (microsecond truncation — matches DuckDB within the data's precision). */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Registers every table as a temp view (used by SQL-oriented callers). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
