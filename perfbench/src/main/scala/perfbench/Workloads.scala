package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
import graft.operators.Reports
import graft.sources.{FsImageSource, ReportSink}
import graft.sources.fsimage.ImageGen

/** One operation of a pass: a call into graft's public surface, timed by
  * `body`, and a check of its result that runs after the pass, outside
  * the timed region. A check returns the problems it found. */
final case class Op(name: String, layer: String, body: Phases => Any,
                    check: Any => Seq[String] = _ => Nil)

/** The phase spans of one op. `frame` splits a DataFrame op into the
  * public call, forcing the executed plan, and the action. */
final class Phases(t: Tracer, name: String, layer: String) {
  def frame[A](df: => DataFrame)(action: DataFrame => A): A = {
    val d = t.span(name, layer, "call")(df)
    t.span(name, layer, "plan")(d.queryExecution.executedPlan)
    t.span(name, layer, "exec")(action(d))
  }
  def rows(df: => DataFrame): Array[Row] = frame(df)(_.collect())
  def call[A](f: => A): A = t.span(name, layer, "call")(f)
}

/** A named workload: inputs made in set-up, then a fixed op list per pass. */
trait Workload {
  def name: String
  def opNames: Seq[String]
  /** Writes this workload's inputs under `dir`. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Inputs
  /** Fresh op list over `in`; `out` is an empty directory for writes. */
  def ops(spark: SparkSession, in: Inputs, out: String): Seq[Op]
  /** Attempted once per traced run after the passes; counts in no timing. */
  def probe(spark: SparkSession, in: Inputs): Option[Op] = None
}

trait Inputs

object Workloads {
  val all: Seq[Workload] = Seq(FsImageSession, TrainingIter)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n (want ${all.map(_.name).mkString(", ")})"))

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** Order-independent content fingerprint of collected rows. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Order-independent fingerprint of a table: the sum over rows of each
    * row's xxhash64 over every column, reduced mod a prime so the sum
    * cannot overflow. */
  def tableFingerprint(df: DataFrame): Long =
    df.select(pmod(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*), lit(1000000007L)).as("h"))
      .agg(sum(col("h"))).head().getLong(0)
}

/** Ground truth of an [[ImageGen]] image, recomputed from the generator's
  * recipe: file i has size 1 KiB × (1 + i mod 3000), owner
  * user(1 + i mod 20) and mtime 1.7e12 + i ms. */
final case class ImageTruth(spec: ImageGen.GenSpec, gen: ImageGen.GenSummary) {
  import spec._
  def inodes: Long = 1L + nDirs + nFiles + nSymlinks
  def size(i: Int): Long = 1024L * (1 + i % 3000)
  def owner(i: Int): Int = 1 + i % 20
  def mtimeSec(i: Int): Long = (1700000000000L + i) / 1000

  /** (count, Σ size) over the files that satisfy `p`. */
  def files(p: Int => Boolean): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < nFiles) { if (p(i)) { n += 1; s += size(i) }; i += 1 }
    (n, s)
  }
  /** Inodes whose owner number satisfies `p` (root is owned by user1). */
  def ownedInodes(p: Int => Boolean): Long =
    (if (p(1)) 1L else 0L) + Seq(nDirs, nFiles, nSymlinks).map(n => (0 until n).count(i => p(1 + i % 20)).toLong).sum
}

/** The image recipe of the namespace workload. */
object Images {
  def spec(nFiles: Int, nDirs: Int): ImageGen.GenSpec =
    ImageGen.GenSpec(nDirs = nDirs, nFiles = nFiles, ecEvery = 100, aclEvery = 1000,
      xattrEvery = 1000, nSymlinks = 1000, withAtime = true, quotaEvery = 100, ucEvery = 1000)

  def write(path: String, spec: ImageGen.GenSpec): ImageTruth = {
    new File(path).getParentFile.mkdirs()
    ImageTruth(spec, ImageGen.write(path, spec))
  }

  def sumCol(rows: Array[Row], c: String): Long =
    rows.map(r => r.getAs[Long](r.fieldIndex(c))).sum

  def topRow(rows: Array[Row], dirCol: String, c: String): (String, Long) =
    rows.headOption.map(r => (r.getAs[String](dirCol), r.getAs[Long](c))).getOrElse(("<none>", -1L))
}

/** The namespace workload. The load-once posture: one distributed load,
  * persisted, then three reports and a parquet export over it. Then the
  * `hfsa-tool` posture, where a command re-reads the image: `summary`. */
object FsImageSession extends Workload {
  import Workloads.expect
  import Images._
  val name = "fsimage_session"
  val opNames: Seq[String] =
    Seq("load", "summaryByUser", "userUsage", "pathReport", "export_parquet", "summary")

  final case class In(img: String, t: ImageTruth, user: Int, cutoffSec: Long, ownerRe: String,
                      ownerOk: Int => Boolean) extends Inputs

  def prepare(spark: SparkSession, dir: String, seed: Long): Inputs = {
    val (nFiles, nDirs) = (Sizes.SessionFiles, Sizes.SessionDirs)
    val t = write(s"$dir/ns.img", spec(nFiles, nDirs))
    val rnd = new scala.util.Random(seed)
    // owner regex over a random pair of user numbers
    val (u1, u2) = (1 + rnd.nextInt(20), 1 + rnd.nextInt(20))
    In(s"$dir/ns.img", t, 1 + rnd.nextInt(20), 1700000000L + rnd.nextInt(math.max(1, nFiles / 1000)),
      s"^user($u1|$u2)$$", u => u == u1 || u == u2)
  }

  def ops(spark: SparkSession, inputs: Inputs, out: String): Seq[Op] = {
    val in = inputs.asInstanceOf[In]
    val t = in.t
    val nFiles = t.spec.nFiles.toLong
    var ns: DataFrame = null
    def rep(name: String, f: DataFrame => DataFrame)(check: Array[Row] => Seq[String]): Op =
      Op(name, "reports", p => p.rows(f(ns)), { case r: Array[Row] => check(r) })
    val usage = t.files(i => t.owner(i) == in.user && t.mtimeSec(i) < in.cutoffSec)
    val owned = t.ownedInodes(in.ownerOk)
    val sizeOk = (r: Array[Row]) =>
      expect("Σ sum_size", sumCol(r, "sum_size"), t.gen.sumFileSize) ++
        expect("Σ n_files", sumCol(r, "n_files"), nFiles) ++
        expect("Σ sum_csize", sumCol(r, "sum_csize"), t.gen.sumConsumed)
    val pqPath = s"$out/namespace_parquet"
    Seq(
      Op("load", "sources", p => {
        p.frame { ns = FsImageSource.inodesDistributed(spark, in.img).persist(); ns }(_.count())
      }, { case n: Long => expect("inode count", n, t.inodes) }),
      rep("summaryByUser", Reports.summaryByUser(_)) { r => sizeOk(r) ++ expect("users", r.length, 20) },
      rep("userUsage", Reports.userUsage(_, s"user${in.user}", in.cutoffSec, 20)) { r =>
        if (usage._1 == 0) expect("rows", r.length, 0)
        else expect("top", topRow(r, "dir", "sum_size"), ("/", usage._2)) ++
          expect("n_files", r.head.getAs[Long]("n_files"), usage._1) },
      rep("pathReport", Reports.pathReport(_, in.ownerRe, 10000)) { r =>
        expect("rows", r.length.toLong, math.min(10000L, owned)) ++
          expect("owners", r.forall(x => in.ownerOk(x.getAs[String]("owner").drop(4).toInt)), true) },
      Op("export_parquet", "sink", p => p.call(ReportSink.parquetSized(ns, pqPath, targetFileBytes = 16L << 20)),
        _ => {
          val back = spark.read.parquet(pqPath)
          expect("parquet rows", back.count(), t.inodes) ++
            expect("parquet fingerprint", Workloads.tableFingerprint(back), Workloads.tableFingerprint(ns))
        }),
      Op("summary", "tool", p => p.rows(graft.Tool.run(spark, "summary", in.img, Map.empty, Set("--distributed"))),
        { case r: Array[Row] => sizeOk(r) }))
  }
}

/** The curator and analyst posture: the curation pipeline, whose
  * near-dup clustering and k-means fit are iterative loops, then the
  * iterative k-core query, in one session. */
object TrainingIter extends Workload {
  val name = "training_iter"
  val queryNames: Seq[String] = Seq("q_kcore")
  val opNames: Seq[String] = "pipeline" +: queryNames

  final case class In(dir: String) extends Inputs

  /** The corpus does not depend on the seed: fingerprints are fixed. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Inputs = {
    TrainingData.write(spark, dir, Sizes.Training)
    In(dir)
  }

  def ops(spark: SparkSession, inputs: Inputs, out: String): Seq[Op] = {
    val in = inputs.asInstanceOf[In]
    def checked(name: String)(got: String): Seq[String] =
      Workloads.expect(s"$name fingerprint", got, Expected.training(name))
    val queries = graft.SparkEntry.queries
    Op("pipeline", "pipeline", p => p.call(graft.Pipeline.run(spark, in.dir)), {
      case s: Seq[_] => checked("pipeline")(stageString(s))
    }) +: queryNames.map { q =>
      Op(q, "queries", p => p.rows(queries(q)(spark, in.dir)), { case r: Array[Row] =>
        checked(q)(Workloads.fingerprint(r)) })
    }
  }

  /** `stage=rows` pairs of a [[graft.Pipeline.run]] result, in order. */
  def stageString(stages: Seq[_]): String =
    stages.map { case (k, n, _) => s"$k=$n" }.mkString(",")

  override def probe(spark: SparkSession, inputs: Inputs): Option[Op] = {
    val dir = inputs.asInstanceOf[In].dir
    Some(Op("e_knn_mutual", "queries", p => p.rows(graft.SparkEntry.queries("e_knn_mutual")(spark, dir))))
  }
}
