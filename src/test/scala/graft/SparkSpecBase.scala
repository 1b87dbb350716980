package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, tests run
  * sequentially under sbt's forked test JVM). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val Sf: String = "/root/testdata/sf0.001"

  /** Runs `body` and returns its outcome with the descriptions of the
    * Spark jobs it started, in start order (a job without a description
    * is named by its call site, e.g. `count at Foo.scala:12`). Listener
    * events arrive asynchronously on the shared bus queue, so a marker
    * job before and after `body` fences the window: once the closing
    * marker's start event is seen, every earlier event has been
    * delivered. */
  def jobsDuring[T](body: => T): (scala.util.Try[T], Seq[String]) = {
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
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the closing marker")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Asserts a job budget: at most `max` jobs in `jobs` (as returned by
    * [[jobsDuring]]). At benchmark scale every job costs ~30 ms of fixed
    * overhead, so a change that adds jobs must raise a visible number; on
    * failure the message names each job description with its count. */
  def assertJobBudget(jobs: Seq[String], max: Int): Unit =
    assert(jobs.size <= max, s"${jobs.size} jobs, budget $max:\n" +
      jobs.distinct.map(d => f"${jobs.count(_ == d)}%4d  $d").mkString("\n"))
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
