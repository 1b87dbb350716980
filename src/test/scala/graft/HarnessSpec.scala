package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampNTZType
import java.nio.file.{Files, Paths}

/** Guards for the verify/bench harness itself (VERDICT r5: the
  * q_moving_window breakage shipped because BOTH harnesses masked it). */
class HarnessSpec extends SparkSpecBase {

  private def ok(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(1, 2, 3).toDF("x")
  }
  private def boom(s: SparkSession, dir: String): DataFrame =
    throw new IllegalStateException("deliberately broken")

  test("Verify.dump writes a .FAILED marker for a broken query, parquet for a good one") {
    val out = Files.createTempDirectory("graft-verify").toString
    val outcomes = Verify.dump(spark, Sf, out,
      Map("good" -> ok _, "bad" -> boom _))
    assert(outcomes("good").isEmpty)
    assert(outcomes("bad").isDefined)
    assert(Files.exists(Paths.get(s"$out/good"))) // parquet dir written
    val marker = Paths.get(s"$out/bad.FAILED")
    assert(Files.exists(marker))
    assert(Files.readString(marker).contains("deliberately broken"))
    assert(!Files.exists(Paths.get(s"$out/bad")))
  }

  test("Verify.dump on outDir reuse clears stale markers and stale parquet") {
    // the local-iteration flow: rerun into the SAME outDir after a fix
    val out = Files.createTempDirectory("graft-verify").toString
    Verify.dump(spark, Sf, out, Map("q" -> boom _))
    assert(Files.exists(Paths.get(s"$out/q.FAILED")))
    // query fixed -> marker must vanish, parquet must appear
    Verify.dump(spark, Sf, out, Map("q" -> ok _))
    assert(!Files.exists(Paths.get(s"$out/q.FAILED")), "stale marker kept")
    assert(Files.exists(Paths.get(s"$out/q")))
    // query regresses -> old green parquet must not survive beside the marker
    Verify.dump(spark, Sf, out, Map("q" -> boom _))
    assert(Files.exists(Paths.get(s"$out/q.FAILED")))
    assert(!Files.exists(Paths.get(s"$out/q")), "stale parquet kept")
  }

  test("Bench.timeAll steal gate re-times a row, requeues it at suite end, and keeps the lowest-steal attempt (r12/r13)") {
    // rowStealBp = -1 makes every attempt read as "dirty" (real steal is
    // >= 0), so the gate must exhaust MaxStealAttempts in place, re-queue
    // the row at suite end for MaxStealAttempts more, and still report
    // ONE timing — selected by the ambient ledger, never dropped
    var calls = 0
    def counted(s: SparkSession, dir: String): DataFrame = { calls += 1; ok(s, dir) }
    spark.conf.set("spark.graft.bench.rowStealBp", "-1")
    try {
      val (timings, failures) = Bench.timeAll(spark, Sf,
        Seq("gated" -> (counted _)), runs = 2)
      assert(failures.isEmpty)
      assert(timings.map(_.name) == Seq("gated"))
      assert(calls == 2 * 2 * Bench.MaxStealAttempts,
        s"expected ${2 * 2 * Bench.MaxStealAttempts} runs across gated+requeued attempts, got $calls")
      // every attempt's steal is in the artifact ledger (r13: auditable
      // selection), and run-1 time rides along as the cold field
      assert(timings.head.attemptSteals.size == 2 * Bench.MaxStealAttempts,
        timings.head.attemptSteals.toString)
      assert(timings.head.cold > 0.0)
    } finally spark.conf.unset("spark.graft.bench.rowStealBp")
  }

  test("Bench.timeAll ships the measured timing, flagged, when a suite-end re-queue attempt throws") {
    // every in-place attempt succeeds (dirty under rowStealBp = -1); the
    // first re-queue run throws. The row keeps its complete timing, and
    // its attempt ledger ends with the failed re-queue attempt.
    var calls = 0
    val inPlaceRuns = 2 * Bench.MaxStealAttempts
    def failsOnRequeue(s: SparkSession, dir: String): DataFrame = {
      calls += 1
      if (calls > inPlaceRuns) throw new IllegalStateException("transient on re-queue")
      ok(s, dir)
    }
    spark.conf.set("spark.graft.bench.rowStealBp", "-1")
    try {
      val (timings, failures) = Bench.timeAll(spark, Sf,
        Seq("gated" -> (failsOnRequeue _)), runs = 2)
      assert(failures.isEmpty, failures.toString)
      assert(timings.map(_.name) == Seq("gated"))
      assert(calls == inPlaceRuns + 1, s"re-queue must stop at its first failure, ran $calls")
      val steals = timings.head.attemptSteals
      assert(steals.size == Bench.MaxStealAttempts + 1 && steals.last == Bench.FailedAttempt,
        steals.toString)
      val json = Bench.renderJson(timings, failures, "/tmp/sf")
      assert(json.contains(s""""steal_attempts":{"gated":${steals.mkString("[", ",", "]")}}"""), json)
    } finally spark.conf.unset("spark.graft.bench.rowStealBp")
  }

  test("Bench.timeAll excludes a broken query from timings and records it as failed") {
    val (timings, failures) = Bench.timeAll(spark, Sf,
      Seq("good" -> ok _, "bad" -> boom _), runs = 2)
    assert(timings.map(_.name) == Seq("good"))
    assert(failures.map(_._1) == Seq("bad"))
    assert(failures.head._2.contains("deliberately broken"))
  }

  test("Bench.timeAll records a query that fails only on a RETRY as failed") {
    // intermittent failure: run 1 succeeds, run 2 throws — must NOT be
    // reported as a healthy single-sample timing
    var calls = 0
    def flaky(s: SparkSession, dir: String): DataFrame = {
      calls += 1
      if (calls > 1) throw new IllegalStateException("flaky on retry")
      ok(s, dir)
    }
    val (timings, failures) = Bench.timeAll(spark, Sf,
      Seq("flaky" -> (flaky _)), runs = 3)
    assert(timings.isEmpty)
    assert(failures.map(_._1) == Seq("flaky"))
    assert(failures.head._2.contains("retry"))
  }

  test("Bench.renderJson carries failed map and puts the median map last") {
    val json = Bench.renderJson(
      Seq(Bench.Timing("good", 0.5, 0.7, 0.4, stealBp = 3L, load1 = 1.25)),
      Seq("bad" -> "java.lang.IllegalStateException: deliberately broken"),
      "/tmp/sf")
    assert(json.contains(""""failed":{"bad":"""))
    assert(!json.contains(""""bad":0""")) // no fake timing for the failure
    // the bounded stdout tail keeps the END of the line — medians go last
    assert(json.indexOf("\"queries\":{") > json.indexOf("\"queries_max\":{"),
      "median map must come after queries_max so tail truncation keeps it")
    assert(json.trim.endsWith("""{"good":0.5}}"""))
    // ambient ledger (r7 verdict item 7): [steal_bp, load1] per query
    assert(json.contains(""""ambient":{"good":[3,1.25]}"""), json)
    // no silent caps: the default artifact names an EMPTY gated list...
    assert(json.contains(""""gated":[]"""), json)
    // ...and a scale-gated run records exactly what it dropped, sorted
    val gatedJson = Bench.renderJson(Seq.empty, Seq.empty, "/tmp/sf1",
      gated = Seq("d_winnow_eval", "d_semdedup_eval"))
    assert(gatedJson.contains(""""gated":["d_semdedup_eval","d_winnow_eval"]"""),
      gatedJson)
  }

  test("Bench.renderJson carries the run-1 cold map and per-attempt steals for re-timed rows (r13)") {
    val json = Bench.renderJson(
      Seq(Bench.Timing("a", 0.5, 4.2, 0.4, stealBp = 3L, load1 = 1.0,
            cold = 4.2, attemptSteals = Seq(3L)),
          Bench.Timing("b", 0.2, 0.3, 0.1, stealBp = 10L, load1 = 1.0,
            cold = 0.3, attemptSteals = Seq(900L, 10L))),
      Seq.empty, "/tmp/sf")
    // the memoized-row build cost is a first-class field, not just max
    assert(json.contains(""""queries_cold":{"a":4.2,"b":0.3}"""), json)
    // only re-timed rows carry an attempts list (bounded line growth)
    assert(json.contains(""""steal_attempts":{"b":[900,10]}"""), json)
    assert(!json.contains(""""a":[3]"""), json)
  }

  test("Bench.renderSummary is one short parse-on-its-own line (r13, VERDICT r12 task 1)") {
    val s = Bench.renderSummary(
      Seq(Bench.Timing("a", 0.5, 0.7, 0.4), Bench.Timing("b", 1.0, 1.2, 0.9)),
      Seq("bad" -> "boom"), "/root/testdata/sf0.1", "32", gated = 5)
    assert(s.length <= 300, s"summary line too long (${s.length}): $s")
    assert(!s.contains("\n"))
    assert(s ==
      """{"metric":"total","value":1.5,"unit":"sec","n":2,"failed":1,"gated":5,"sf":0.1,"cpus":"32"}""", s)
  }

  test("Bench.renderSummary parses as JSON with a cpu list, cpus kept as a string") {
    val s = Bench.renderSummary(Seq(Bench.Timing("a", 0.5, 0.7, 0.4)), Seq.empty,
      "data/sf0.01", "4,8")
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    assert(j.get("cpus").isTextual && j.get("cpus").asText == "4,8", s)
    assert(j.get("value").asDouble == 0.5 && j.get("n").asInt == 1 &&
      j.get("failed").asInt == 0 && j.get("sf").asDouble == 0.01, s)
  }

  test("Harness.only: unset or blank selects every query, a list selects its names") {
    assert(Harness.only(None).isEmpty)
    assert(Harness.only(Some("")).isEmpty)
    assert(Harness.only(Some(" , ,")).isEmpty)
    assert(Harness.only(Some("a, b,,c")) === Some(Set("a", "b", "c")))
  }

  test("Harness.warm then dropBlocks keeps exactly the warm-up's persisted RDDs") {
    val sc = spark.sparkContext
    val keep = Harness.warm(spark, Sf)
    assert(keep.nonEmpty, "the warm-up caches the namespace view")
    assert(keep.subsetOf(sc.getPersistentRDDs.keySet))
    // a query's own checkpoint, as an iterative query leaves it
    val leaf = graft.operators.Rounds.eager(spark.range(100).toDF("x"))
    assert(leaf.count() === 100)
    assert(sc.getPersistentRDDs.keySet.toSet != keep, "the leaf is persisted")
    Harness.dropBlocks(spark, keep)
    assert(sc.getPersistentRDDs.keySet.toSet === keep)
    // the kept warm-up cache still serves the namespace view
    assert(graft.core.Namespace.inodes(spark, Sf).count() > 0)
  }

  private def headerJobs(dump: String): Int = {
    val m = "== Spark jobs while building: (\\d+) ==".r.findFirstMatchIn(dump)
    assert(m.isDefined, dump)
    m.get.group(1).toInt
  }

  test("ExplainBatch header names the jobs that built a staged plan, and none for a lazy one") {
    val staged = ExplainBatch.render(spark)(
      graft.operators.Rounds.eager(spark.range(100).toDF("x")).filter("x > 3"))
    assert(headerJobs(staged) >= 1, staged)
    assert(staged.contains("Physical Plan"), staged)
    val lazyDump = ExplainBatch.render(spark)(spark.range(100).toDF("x").filter("x > 3"))
    assert(headerJobs(lazyDump) === 0, lazyDump)
    assert(lazyDump.contains("Physical Plan"), lazyDump)
  }

  test("every main under src/main/scala/graft is a row of README's entry-point table") {
    import scala.jdk.CollectionConverters._
    val mains = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = Files.readString(f)
        val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
        "def main\\(args: Array\\[String\\]\\)".r.findAllMatchIn(src).map { m =>
          val owner = "object (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
          s"$pkg.$owner"
        }
      }.toSet
    assert(mains.contains("graft.Bench") && mains.contains("graft.Tool"), mains)
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.drop(readme.indexOf("## Entry points")).split("\n## ")(0)
    val rows = section.linesIterator.filter(_.startsWith("| `graft."))
      .map(r => "`(graft\\.\\w+)`".r.findFirstMatchIn(r).get.group(1)).toSet
    assert(rows === mains,
      s"mains without a README row: ${mains -- rows}; rows without a main: ${rows -- mains}")
  }

  test("timestamp contract: events.ts is TIMESTAMP_NTZ and every query analyzes against it") {
    // Pin the encoding that silently changed under q_moving_window in r5:
    // pandas timestamp[us] (no tz) reads back as TimestampNTZType. If a
    // testdata regeneration flips this, fail HERE with a named cause
    // instead of mid-bench. (QueriesSpec's "every declared query runs"
    // already exercises analysis of all queries against this column.)
    val ts = graft.core.Tables.events(spark, Sf).schema("ts")
    assert(ts.dataType == TimestampNTZType,
      s"events.ts expected TIMESTAMP_NTZ, got ${ts.dataType}")
  }
}
