package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, tests run
  * sequentially under sbt's forked test JVM). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val Sf: String = "/root/testdata/sf0.001"

  /** [[Harness.jobsDuring]] on the spec session. */
  def jobsDuring[T](body: => T): (scala.util.Try[T], Seq[String]) = Harness.jobsDuring(spark)(body)

  /** Asserts a job budget: at most `max` jobs in `jobs` (as returned by
    * [[jobsDuring]]). At benchmark scale every job costs ~30 ms of fixed
    * overhead, so a change that adds jobs must raise a visible number; on
    * failure the message names each job description with its count. */
  def assertJobBudget(jobs: Seq[String], max: Int): Unit =
    assert(jobs.size <= max, s"${jobs.size} jobs, budget $max:\n" + Harness.jobCounts(jobs))
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
