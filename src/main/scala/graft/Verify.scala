package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure contract (r6, VERDICT r5 "make failures loud"): a query that
  * throws gets an explicit `<outDir>/<name>.FAILED` marker file holding the
  * exception message, so the gate can report an `err` row instead of the
  * query silently vanishing from the correctness artifact (which is exactly
  * how the r5 q_moving_window breakage went unnoticed — no parquet, no row,
  * and 126/126 of the *remaining* rows looked green).
  */
object Verify {

  /** Run each query, write its parquet (or a .FAILED marker), and return
    * name → Some(errorMessage) for failures / None for successes. Pure
    * enough to spec with an injected broken query. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Option[String]] = {
    new java.io.File(outDir).mkdirs()
    queries.map { case (name, fn) =>
      val err: Option[String] =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // outDir reuse (SPARK_GRAFT_ONLY iteration): a marker left by a
          // previous failing run must not shadow this run's green parquet
          Files.deleteIfExists(Paths.get(s"$outDir/$name.FAILED"))
          None
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          System.err.println(s"[verify] $name FAILED: $msg")
          Files.writeString(Paths.get(s"$outDir/$name.FAILED"), msg)
          // and symmetrically: a stale green parquet from a previous run
          // must not let the gate compare outdated data for a now-red query
          val old = new java.io.File(s"$outDir/$name")
          if (old.exists()) org.apache.commons.io.FileUtils.deleteQuietly(old)
          Some(msg)
        }
      name -> err
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench and CLI session, so the oracle checks the plans they run
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=a,b,c restricts to named queries (local iteration);
    // the driver never sets it, so the gate always dumps everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val outcomes = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = outcomes.collect { case (n, Some(_)) => n }.toSeq.sorted
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
    // Exit 0 even on per-query failure: the .FAILED markers are the signal.
    // A non-zero exit could make the driver skip the DuckDB compare for the
    // 126 queries that DID succeed — one red query must not zero the round.
    spark.stop()
  }
}
