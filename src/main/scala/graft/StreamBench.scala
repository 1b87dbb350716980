package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventsStream

/** Streaming throughput bench (SURVEY §2.5): replays the events table
  * through the Structured Streaming operators in micro-batches and reports
  * end-to-end rows/sec per operator as ONE JSON line — the streaming
  * counterpart of [[Bench]].
  *
  * The feed side is a driver-held MemoryStream by design (the production
  * source would be Kafka/files; what's measured here is the OPERATOR path:
  * watermark tracking, state store updates, sink commit). Each operator
  * processes the full event stream split into `chunks` micro-batches, so
  * per-batch planning overhead is part of the measurement — as it is in
  * production micro-batch streaming.
  *
  * `runMain graft.StreamBench [sfDir]` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_STREAM_CHUNKS).
  */
object StreamBench {

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)

  /** Per-operator readout: wall seconds, input rows, and the state-store
    * footprint (max rows / max bytes across micro-batches, from
    * StreamingQueryProgress.stateOperators) — the boundedness evidence:
    * a SKETCH op's state must stay O(sketch), never O(input). */
  final case class OpStats(sec: Double, rows: Long,
                           stateRows: Long, stateBytes: Long)

  /** Runs every streaming operator over `sfDir`'s events; returns
    * op → [[OpStats]]. */
  def run(spark: SparkSession, sfDir: String, chunks: Int = 10): Map[String, OpStats] = {
    import spark.implicits._
    val rows = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts")) // arrival roughly follows event time, as in production
      .as[Ev].collect()
    val slices = {
      val per = math.max(1, rows.length / chunks)
      rows.grouped(per).toSeq
    }

    def bench(name: String, outputMode: String)
             (mk: DataFrame => DataFrame): (String, OpStats) = {
      val input = MemoryStream[Ev](spark)
      // every addData call becomes one micro-batch block; feed BEFORE the
      // query starts so AvailableNow's end-offset snapshot covers them all
      slices.foreach(s => input.addData(s.toSeq))
      val t0 = System.nanoTime()
      val q = mk(input.toDF()).writeStream
        .format("noop")
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow()) // drain-all-then-stop
        .queryName(s"bench_$name")
        .start()
      q.awaitTermination()
      val t = (System.nanoTime() - t0) / 1e9
      val processed = q.recentProgress.map(_.numInputRows).sum
      require(processed == rows.length,
        s"stream bench $name processed $processed of ${rows.length} rows")
      val states = q.recentProgress.flatMap(_.stateOperators)
      val stateRows = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val stateBytes = if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max
      System.err.println(f"[stream-bench] $name%-18s $t%8.3f s  ${rows.length / t}%11.0f rows/s" +
        f"  state $stateRows%8d rows ${stateBytes / 1024}%9d KiB")
      name -> OpStats(t, rows.length.toLong, stateRows, stateBytes)
    }

    Map(
      bench("windowed_counts", "update")(EventsStream.windowedCounts(_)),
      bench("user_activity", "update")(EventsStream.userActivity(_)),
      bench("dedup", "append")(EventsStream.dedupedEvents(_)),
      bench("sessionize", "append")(EventsStream.sessionize(_).toDF()),
      bench("kmv_distinct", "update")(EventsStream.kmvDistinct(_).toDF()),
      bench("bitmap_distinct", "update")(EventsStream.bitmapDistinct(_).toDF()),
      bench("heavy_hitters", "update")(EventsStream.heavyHitters(_).toDF()),
      bench("ewma_gate", "append")(EventsStream.ewmaGated(_).toDF()),
      bench("cm_sketch", "update")(EventsStream.cmSketch(_).toDF()),
      bench("quantile_grid", "update")(EventsStream.quantileGrid(_).toDF()),
      // session_window rejects update mode (sessions merge, so an update
      // row could be superseded); complete re-emits the closed+open set
      bench("session_window", "complete")(EventsStream.sessionWindowAgg(_)),
      bench("enriched", "append") { df =>
        val dim = spark.range(0, 1000)
          .select(col("id").as("user_id"), (col("id") % 7).as("segment"))
        EventsStream.enriched(df, dim)
      },
      bench("bloom_gate", "append") { df =>
        // corpus = half the user ids; gate arrivals by md5(user_id)
        val corpus = spark.range(0, 500)
          .select(md5(col("id").cast("string")).as("fp"))
        EventsStream.bloomGated(
          df.withColumn("fp", md5(col("user_id").cast("string"))),
          graft.operators.Dedup.bloomMask(corpus))
      },
      bench("lsh_gate", "append") { df =>
        // fuzzy twin of bloom_gate: 8-word texts keyed by id%40 → heavy
        // near-dup traffic against a 500-doc corpus band index; measures
        // the per-row band computation + index probe + per-doc argmax
        def textOf(c: org.apache.spark.sql.Column) = concat_ws(" ",
          (0 until 8).map(j => concat(lit(s"w$j" + "_"), pmod(c + j, lit(40)))): _*)
        val corpus = spark.range(0, 500)
          .select(col("id").as("doc_id"), textOf(col("id")).as("text"))
        val index = graft.queries.VectorQueries.minhashBandIndex(corpus)
          .localCheckpoint()
        EventsStream.lshGated(
          df.select(col("event_id").as("doc_id"),
            textOf(col("user_id")).as("text")), index).toDF()
      },
      benchScd2Reload(spark, slices, rows.length.toLong)) ++ withRocksDb(spark) {
      // the transformWithState (v2 state API) family needs RocksDB; the
      // provider is restored afterwards so ops added later keep benching
      // against the default HDFS-backed store
      Map(
        bench("user_totals", "update")(EventsStream.userTotals(_).toDF()),
        bench("user_type_counts", "update")(EventsStream.userTypeCounts(_).toDF()),
        bench("sessionize_v2", "append")(EventsStream.sessionizeV2(_).toDF()))
    }
  }

  /** The changing-dim SCD2 path ([[EventsStream.scd2EnrichedReloading]])
    * needs its own harness: foreachBatch owns the sink, so the generic
    * noop-writeStream helper doesn't apply. The dim is a 3-version-per-
    * user parquet table RE-READ every micro-batch — the measured premium
    * over the static `scd2Enriched` join is exactly that re-read+re-plan,
    * which is the price of mid-stream dim changes taking effect. State
    * rows/bytes are structurally zero (no watermark, no state store). */
  private def benchScd2Reload(spark: SparkSession, slices: Seq[Array[Ev]],
                              nRows: Long): (String, OpStats) = {
    import spark.implicits._
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft_scd2_dim_bench").toFile.getPath
    spark.range(0, 1000)
      .select(col("id").as("dim_user"), explode(expr("sequence(0, 2)")).as("k"))
      .select(col("dim_user"),
        (lit(1704067200L) + col("k") * 864000L).as("valid_from"),
        when(col("k") < 2, lit(1704067200L) + (col("k") + 1) * 864000L)
          .as("valid_to"),
        ((col("dim_user") + col("k")) % 5).as("tier"))
      .write.mode("overwrite").parquet(dimDir)
    val input = MemoryStream[Ev](spark)
    slices.foreach(s => input.addData(s.toSeq))
    val out = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val q = EventsStream.scd2EnrichedReloading(
        input.toDF().withColumn("ts", col("ts").cast("long")),
        () => spark.read.parquet(dimDir), Seq("tier"),
        Some(Trigger.AvailableNow())) { (df, _) =>
      out.addAndGet(df.count())
    }
    q.awaitTermination()
    val t = (System.nanoTime() - t0) / 1e9
    require(out.get() == nRows, s"scd2_reload emitted ${out.get()} of $nRows rows")
    System.err.println(f"[stream-bench] scd2_reload        $t%8.3f s  ${nRows / t}%11.0f rows/s" +
      f"  state        0 rows         0 KiB")
    "scd2_reload" -> OpStats(t, nRows, 0L, 0L)
  }

  private def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val chunks = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNKS", "10").toInt
    val spark = graft.core.GraftSession.get()
    val results = run(spark, sfDir, chunks)
    import Harness.ms3
    val ops = results.toSeq.sortBy(_._1).map { case (k, s) =>
      s""""$k":{"sec":${ms3(s.sec)},"rows_per_sec":${math.round(s.rows / s.sec)},""" +
        s""""state_rows":${s.stateRows},"state_kib":${s.stateBytes / 1024}}"""
    }.mkString("{", ",", "}")
    val total = ms3(results.values.map(_.sec).sum)
    println(s"""{"metric":"stream_total","value":$total,"unit":"sec","ops":$ops,"sf":"$sfDir"}""")
    spark.stop()
  }
}
