package graft

import org.apache.spark.sql.SparkSession

/** The pieces graft's mains share, written once: the `SPARK_GRAFT_ONLY`
  * query selection, the warm-up, the block cleanup between timed regions,
  * and the timing and job readouts. Every main takes its session from
  * [[graft.core.GraftSession]], so Verify checks the session that Bench,
  * the CLIs and the perf benchmark run. */
object Harness {

  /** `SPARK_GRAFT_ONLY=a,b,c` restricts a run to the named queries (local
    * iteration). None, when it is unset or blank, means every query. */
  def only(setting: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Set[String]] =
    setting.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)

  /** Warm-up before timed work: reads the fact tables (JVM and codegen
    * warm-up) and materializes the shared namespace view, which stays
    * cached for the session (the production posture is a pre-materialized
    * inode table; see BENCH_NOTES.md). Returns the persisted RDD ids that
    * [[dropBlocks]] must keep. */
  def warm(spark: SparkSession, sfDir: String): Set[Int] = {
    graft.core.Tables.lineitem(spark, sfDir).count()
    graft.core.Tables.documents(spark, sfDir).count()
    graft.core.Namespace.inodes(spark, sfDir).count()
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Frees every persisted RDD not in `keep` (checkpointed sketch tables,
    * memoized chains, a load's leaves), waiting until the blocks are gone,
    * then collects the garbage. Call it outside any timed region: otherwise
    * dead blocks pile up across queries and a deferred major collection
    * lands inside whichever later query trips it. */
  def dropBlocks(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
  }

  /** Wall seconds of `f`, with its result. */
  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Seconds rounded to 3 decimals, as the JSON lines print them. */
  def ms3(v: Double): String = (math.round(v * 1000) / 1000.0).toString

  /** Sum of per-pool peak heap since start (monotone, so the last sample
    * covers the run). In local mode one JVM holds driver state and
    * executor working memory, so this bounds both. Per-pool G1 peaks need
    * not coincide in time, so the sum can read above -Xmx; the hard bound
    * of record is -Xmx itself: a capped run that completes fit. */
  def peakHeapMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
  }

  /** Runs `body` and returns its outcome with the descriptions of the
    * Spark jobs it started, in start order (a job without a description
    * is named by its call site, e.g. `count at Foo.scala:12`). Listener
    * events arrive asynchronously on the shared bus queue, so a marker
    * job before and after `body` fences the window: once the closing
    * marker's start event is seen, every earlier event has been
    * delivered. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (scala.util.Try[T], Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    @volatile var open = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(
          e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
        if (d == s"$tag-open") open = true
        else if (d == s"$tag-close") closed.countDown()
        else if (open) jobs.add(d)
      }
    }
    def marker(what: String): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$tag-$what")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.job.description", prev)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = scala.util.Try(body)
      marker("close")
      if (!closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not deliver the closing marker")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** One line per distinct job description in `jobs` (as returned by
    * [[jobsDuring]]), with its count, in first-seen order. */
  def jobCounts(jobs: Seq[String]): String =
    jobs.distinct.map(d => f"${jobs.count(_ == d)}%4d  $d").mkString("\n")
}
