package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Runs one workload for one seed and prints its metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --run-dir <dir> --cores <n>
  * }}}
  *
  * Set-up starts the session and writes the workload's inputs, a round
  * repeated [[SetupRounds]] times, and then makes one warm-up pass of the
  * op list over the inputs, so class loading and JIT compilation land in
  * set-up. `setup_s` is the JVM start-up plus the median round plus the
  * warm-up pass. The timed region then runs passes of the op list until
  * `--seconds` have passed. Every pass, the warm-up pass too, gets a new
  * session and ends by dropping every persisted block, so no cache or
  * memo carries from one pass to the next. `wall_s` and `first_result_s`
  * are medians over the timed passes. Outputs are checked after each
  * pass, outside the timed region.
  *
  * With `--trace 1` the timed passes alternate traced and untraced,
  * starting with a traced one, and there are at least
  * [[MinTracedRunPasses]] of them. A traced pass records
  * spans around every call and attributes Spark counters to them through
  * job groups. Each per-layer metric is its median over the traced
  * passes; the tracing overhead is the median traced pass wall time minus
  * the median untraced one. The spans go to a JSON file under `--work`; inputs and
  * outputs live in `--run-dir`, which the caller removes.
  *
  * The last stdout line is the result object; the line before it is the
  * run record (ambient ledger, probe outcome, per-pass times).
  */
object Main {
  val SetupRounds = 3
  /** traced, untraced, traced */
  val MinTracedRunPasses = 3
  val Layers: Seq[String] = Seq("sources", "tool", "reports", "sink", "pipeline", "queries")

  final case class PassResult(wall: Double, firstResult: Double, attempted: Int, failed: Int,
                              problems: Seq[String], tracer: Tracer, traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = new File(args("work")).getAbsoluteFile
    val jvmBoot = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val runDir = new File(args("run-dir")).getAbsoluteFile

    def session(): SparkSession = {
      val s = graft.core.GraftSession.builder(master = s"local[$cores]")
        .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up rounds; the last round's inputs are the ones timed
    var spark: SparkSession = null
    var inputs: Inputs = null
    val rounds = (0 until SetupRounds).map { r =>
      if (spark != null) spark.stop()
      if (r > 0) FileUtils.deleteQuietly(new File(runDir, s"inputs-${r - 1}"))
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      inputs = workload.prepare(spark, new File(runDir, s"inputs-$r").getPath, seed)
      val t2 = System.nanoTime()
      // (round, session start, input generation) in seconds
      Seq(t2 - t0, t1 - t0, t2 - t1).map(_ / 1e9)
    }
    // ---- warm-up pass, checked like a timed one
    val warm = runPass(spark.newSession(), workload, inputs, new File(runDir, "pass-warmup"), None)
    val setupS = jvmBoot + median(rounds.map(_.head)) + warm.wall

    // ---- timed passes
    val listener = new GroupListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val traceId = java.util.UUID.randomUUID().toString.take(8)
    val cpu0 = Ledger.cpu()
    val load0 = Ledger.loadavg()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassResult]
    def pass(traced: Boolean): Unit =
      passes += runPass(spark.newSession(), workload, inputs,
        new File(runDir, s"pass-${passes.size}"), if (traced) Some(listener) else None, traceId)
    val minPasses = if (trace) MinTracedRunPasses else 1
    def more = passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) pass(traced = trace && passes.size % 2 == 0)
    val ledger = Ledger.record(cpu0, Ledger.cpu(), load0, Ledger.loadavg(), cores, spark.version)

    // ---- failure probe (traced runs): outcome recorded, never timed
    val probe = workload.probe(spark.newSession(), inputs).filter(_ => trace).map { op =>
      val t = new Tracer(traceId, spark.sparkContext, None)
      val t0 = System.nanoTime()
      val outcome =
        try { op.body(new Phases(t, op.name, op.layer)); """"ok":true""" }
        catch { case NonFatal(e) => s""""ok":false,"error":${Json.str(e.toString.take(300))}""" }
      s"""{"op":${Json.str(op.name)},$outcome,"s":${(System.nanoTime() - t0) / 1e9}}"""
    }
    val probeFailed = probe.count(_.contains("\"ok\":false"))

    val attempted = warm.attempted + passes.map(_.attempted).sum
    val failed = warm.failed + passes.map(_.failed).sum
    val problems = warm.problems.map(p => s"warm-up: $p") ++ passes.flatMap(_.problems)
    val walls = passes.map(_.wall)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", median(walls), "s"),
        ("first_result_s", median(passes.map(_.firstResult)), "s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", Ledger.peakRssMb(), "MB"))
      else {
        val (traced, untraced) = passes.partition(_.traced)
        val perPass = traced.map(layerMetrics(_, cores))
        perPass.head.indices.map { i =>
          val (name, _, unit) = perPass.head(i)
          (name, median(perPass.map(_(i)._2)), unit)
        } :+ (("trace_overhead_s", median(traced.map(_.wall)) - median(untraced.map(_.wall)), "s"))
      }

    val tracePath = if (trace) {
      val f = new File(work, s"trace-${workload.name}-$seed-$traceId.json")
      Files.writeString(f.toPath, traceJson(traceId, workload, passes.toSeq, ledger))
      Some(f.getPath)
    } else None

    val failedFrac = (failed + probeFailed).toDouble / (attempted + probe.size)
    println("{" + Seq(
      s""""record":"perfbench"""",
      s""""workload":${Json.str(workload.name)}""",
      s""""seed":$seed""",
      s""""trace":$trace""",
      s""""failed_frac":$failedFrac""",
      s""""probe":${probe.getOrElse("null")}""",
      s""""warmup_pass_s":${warm.wall}""",
      s""""passes":${passes.size}""",
      s""""pass_wall_s":${walls.mkString("[", ",", "]")}""",
      s""""pass_first_s":${passes.map(_.firstResult).mkString("[", ",", "]")}""",
      s""""setup_rounds_s":${rounds.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")}""",
      s""""jvm_boot_s":$jvmBoot""",
      s""""ledger":$ledger""",
      s""""trace_file":${tracePath.map(Json.str).getOrElse("null")}""",
      s""""problems":${problems.take(20).map(Json.str).mkString("[", ",", "]")}""").mkString(",") + "}")
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricJson}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  /** Runs the op list once; with a `listener` the pass is traced. */
  def runPass(spark: SparkSession, w: Workload, inputs: Inputs, out: File,
              listener: Option[GroupListener], traceId: String = "warmup"): PassResult = {
    val tracer = new Tracer(traceId, spark.sparkContext, listener)
    val ops = w.ops(spark, inputs, out.getPath)
    val results = mutable.ArrayBuffer.empty[(Op, Either[Throwable, Any])]
    var first = -1.0
    val t0 = System.nanoTime()
    ops.foreach { op =>
      val r = try Right(tracer.span(op.name, op.layer, "op")(op.body(new Phases(tracer, op.name, op.layer))))
        catch { case NonFatal(e) => Left(e) }
      if (first < 0) first = (System.nanoTime() - t0) / 1e9
      tracer.notePersisted(op.name)
      results += ((op, r))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val perOp = results.toSeq.map {
      case (op, Left(e)) => Seq(s"${op.name} threw ${e.toString.take(300)}")
      case (op, Right(v)) =>
        try op.check(v).map(p => s"${op.name}: $p")
        catch { case NonFatal(e) => Seq(s"${op.name} check threw ${e.toString.take(300)}") }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    FileUtils.deleteQuietly(out)
    PassResult(wall, first, ops.size, perOp.count(_.nonEmpty), perOp.flatten, tracer, listener.isDefined)
  }

  /** Per-op times and per-layer rollups of one traced pass. Every metric
    * is present for every workload; a layer or op without work reads 0. */
  def layerMetrics(p: PassResult, cores: Int): Seq[(String, Double, String)] = {
    val t = p.tracer
    val ops = Workloads.all.flatMap(_.opNames).distinct.map { n =>
      (s"op.${n}_s", t.spans.find(s => s.kind == "op" && s.name == n).fold(0.0)(_.seconds), "s")
    }
    val layers = Layers.flatMap { l =>
      val phases = t.spans.filter(s => s.layer == l && s.kind != "op")
      def secs(kind: String) = phases.filter(_.kind == kind).map(_.seconds).sum
      val cs = t.spans.filter(_.layer == l).map(t.counters)
      val taskMs = cs.flatMap(_.taskMs).sorted
      val stages = cs.map(_.stages).sum
      val busyDen = (secs("call") + secs("plan") + secs("exec")) * cores
      val skew = if (taskMs.isEmpty) 0.0 else taskMs.last / math.max(1.0, taskMs(taskMs.size / 2).toDouble)
      val persisted = t.spans.filter(s => s.layer == l && s.kind == "op")
        .map(s => t.persistedMb.getOrElse(s.name, 0.0)).sum
      Seq(
        ("call_s", secs("call"), "s"), ("plan_s", secs("plan"), "s"), ("exec_s", secs("exec"), "s"),
        ("jobs", cs.map(_.jobs).sum.toDouble, "count"), ("stages", stages.toDouble, "count"),
        ("tasks", cs.map(_.tasks).sum.toDouble, "count"),
        ("stages_skipped_frac", if (stages == 0) 0.0 else cs.map(_.stagesSkipped).sum.toDouble / stages, "ratio"),
        ("busy_frac", if (busyDen == 0) 0.0 else cs.map(_.runMs).sum / 1000.0 / busyDen, "ratio"),
        ("task_skew", skew, "ratio"),
        ("shuffle_mb", cs.map(_.shuffleBytes).sum / 1048576.0, "MB"),
        ("spill_mb", cs.map(_.spillBytes).sum / 1048576.0, "MB"),
        ("gc_s", cs.map(_.gcMs).sum / 1000.0, "s"),
        ("persisted_mb", persisted, "MB")).map { case (k, v, u) => (s"$l.$k", v, u) }
    }
    ops ++ layers
  }

  def traceJson(traceId: String, w: Workload, passes: Seq[PassResult], ledger: String): String = {
    val passJson = passes.zipWithIndex.map { case (p, i) =>
      val t = p.tracer
      val origin = t.spans.map(_.startNs).min
      val spans = t.spans.sortBy(_.startNs).map { s =>
        val c = t.counters(s)
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
          s""""kind":${Json.str(s.kind)},"start_s":${Json.num((s.startNs - origin) / 1e9)},""" +
          s""""dur_s":${Json.num(s.seconds)},"self_s":${Json.num(t.selfSeconds(s))},"jobs":${c.jobs},""" +
          s""""stages":${c.stages},"tasks":${c.tasks},"run_s":${Json.num(c.runMs / 1000.0)}}"""
      }
      val rollup = Layers.map { l =>
        val ls = t.spans.filter(_.layer == l)
        val byKind = Seq("op", "call", "plan", "exec").map(k =>
          s""""${k}_self_s":${Json.num(ls.filter(_.kind == k).map(t.selfSeconds).sum)}""")
        s"""${Json.str(l)}:{"total_s":${Json.num(ls.filter(_.kind == "op").map(_.seconds).sum)},${byKind.mkString(",")}}"""
      }
      s"""{"pass":$i,"traced":${p.traced},"wall_s":${Json.num(p.wall)},"rollup":${rollup.mkString("{", ",", "}")},""" +
        s""""spans":${spans.mkString("[", ",", "]")}}"""
    }
    s"""{"trace_id":${Json.str(traceId)},"workload":${Json.str(w.name)},"ledger":$ledger,""" +
      s""""passes":${passJson.mkString("[", ",", "]")}}"""
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Host conditions of a run, so a noisy run is visible from its record. */
object Ledger {
  private def read(path: String): String =
    try new String(Files.readAllBytes(new File(path).toPath)) catch { case NonFatal(_) => "" }

  /** Aggregate (steal, total) jiffies from the `cpu` line of /proc/stat. */
  def cpu(): (Long, Long) = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map { l =>
    val f = l.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.getOrElse((0L, 0L))

  def loadavg(): Double = read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def record(c0: (Long, Long), c1: (Long, Long), load0: Double, load1: Double, cores: Int,
             sparkVersion: String): String = {
    val total = c1._2 - c0._2
    val stealBp = if (total <= 0) 0L else (c1._1 - c0._1) * 10000 / total
    s"""{"steal_bp":$stealBp,"loadavg_1m_start":$load0,"loadavg_1m_end":$load1,""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors},"cores":$cores,""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""jdk":${Json.str(System.getProperty("java.version"))},"spark":${Json.str(sparkVersion)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
