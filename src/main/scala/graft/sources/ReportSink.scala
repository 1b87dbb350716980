package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, graftshim}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import graft.operators.Rounds

/** Report output formats (reference tool `-o txt|csv|json`,
  * tool/.../HdfsFSImageTool.java:55-59 + CsvExport/JsonExport tests),
  * re-expressed as distributed writers plus a driver-side text renderer
  * for the human-readable summary.
  */
object ReportSink {

  /** CSV with header — the tool's `-o csv`. */
  /** Shared CLI output dispatch ([[graft.Tool]] / [[graft.CorpusTool]]):
    * txt to stdout (row-capped), csv/json to `--out` or the default. */
  def emit(df: DataFrame, opts: Map[String, String],
           defaultOut: String, maxRows: Int): Unit =
    opts.getOrElse("-o", "txt") match {
      case "txt" => println(text(df, maxRows = maxRows))
      case "csv" => csv(df, opts.getOrElse("--out", defaultOut))
      case "json" => json(df, opts.getOrElse("--out", defaultOut))
      case f => throw new IllegalArgumentException(s"unknown format: $f")
    }

  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSON lines — the tool's `-o json` (records form). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Parquet — the engine-native interchange format. */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-style partitioned parquet — the 100 TB output posture: readers
    * of `WHERE owner = …` / date-ranged queries prune whole directories. */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table (saveAsTable — bucketing needs a catalog):
    * co-locates join/agg keys so downstream joins on `bucketCols` skip the
    * shuffle entirely. */
  def parquetBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Size-targeted parquet — the compaction posture for corpus-scale
    * outputs: a 100 TB result written as whatever the shuffle produced is
    * either thousands of KB-sized files (metadata pressure on every
    * downstream scan) or a few unsplittable monsters. Writes a ~`sampleRows`
    * seeded RANDOM-sample probe file (not the head — leading rows can be
    * systematically narrower than average) and measures its REAL encoded
    * size, then repartitions to ceil(totalRows / rowsPerFile) output files.
    * The probe slightly overestimates bytes/row (footer + dictionary
    * amortize over a small file), which errs toward files under the
    * target — the safe side. `maxRecordsPerFile` is a second bound for
    * writers that reuse `rowsPerFile` on differently-partitioned data.
    *
    * At benchmark scale a write costs its Spark jobs, so this one starts
    * four: one materializes `df` as an eager leaf that counts its rows as
    * it stores them ([[graft.operators.Rounds.measuredRows]]), one writes
    * the probe, and the repartitioned write takes two. The probe's rows
    * are counted from the footers of its files, read on the driver with
    * their sizes, not by re-running the sample. */
  def parquetSized(df: DataFrame, path: String,
                   targetFileBytes: Long = 512L << 20,
                   sampleRows: Int = 10000): Unit = {
    val spark = df.sparkSession
    // count + probe + write read one materialization
    val (cached, blocks) = graftshim.eagerLeaf(df)
    try {
      val total = Rounds.measuredRows(cached)
      if (total == 0L) { cached.write.mode("overwrite").parquet(path); return }
      val conf = graftshim.hadoopConf(spark)
      val probePath = new Path(path + "._probe")
      val fs = probePath.getFileSystem(conf)
      val probe = if (total <= sampleRows) cached
        else cached.sample(withReplacement = false, sampleRows.toDouble / total, seed = 42)
      probe.coalesce(1).write.mode("overwrite").parquet(probePath.toString)
      val (sampled, probeBytes) =
        try {
          val files = fs.listStatus(probePath).filter(_.getPath.getName.endsWith(".parquet"))
          val rows = files.iterator.map(f => ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)
            .getBlocks.asScala.map(_.getRowCount).sum).sum
          (math.max(1L, rows), files.map(_.getLen).sum)
        } finally fs.delete(probePath, true)
      val bytesPerRow = math.max(1.0, probeBytes.toDouble / sampled)
      val rowsPerFile = math.max(1L, (targetFileBytes / bytesPerRow).toLong)
      val nFiles = ((total + rowsPerFile - 1) / rowsPerFile).max(1L).min(Int.MaxValue.toLong).toInt
      cached.repartition(nFiles)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile * 2)
        .parquet(path)
    } finally blocks.unpersist(blocking = false)
  }

  /** Fixed-width text table of the first `maxRows` rows — the tool's
    * `-o txt` report body. Driver-side by design (human console output);
    * `maxRows` bounds the collect. */
  def text(df: DataFrame, maxRows: Int = 100): String = {
    val cols = df.columns
    val rows = df.limit(maxRows).collect().map(_.toSeq.map(v => String.valueOf(v)))
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(_(i).length)).max
    }
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString(" | ")
    (line(cols.toSeq) +: ("-" * (widths.sum + 3 * (cols.length - 1))) +: rows.map(line))
      .mkString("\n")
  }
}
