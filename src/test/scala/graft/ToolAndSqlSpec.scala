package graft

import graft.sources.ReportSink

/** SQL-surface (GraftExtensions) + ReportSink + Tool helpers. */
class ToolAndSqlSpec extends SparkSpecBase {

  test("extension-registered SQL functions work from pure SQL") {
    val r = spark.sql(
      """SELECT size_bucket(3145728) AS b,
               iec_format(2048) AS f,
               iec_parse('3 MiB') AS p,
               dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""").head
    assert(r.getAs[Int]("b") == 3)
    assert(r.getAs[String]("f") == "2 KiB")
    assert(r.getAs[Long]("p") == 3L * 1024 * 1024)
    assert(r.getAs[Double]("d") == 11.0)
  }

  test("size_bucket usable over a table from SQL") {
    graft.core.Tables.registerAll(spark, Sf)
    val n = spark.sql(
      """SELECT size_bucket(CAST(floor(l_extendedprice * 100) AS bigint)) AS b,
               count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1""").count()
    assert(n >= 3)
  }

  test("ReportSink.text renders a fixed-width table") {
    import spark.implicits._
    val txt = ReportSink.text(Seq(("alice", 10L), ("bob", 2L)).toDF("owner", "n"))
    assert(txt.contains("owner"))
    assert(txt.split("\n").length == 4) // header, rule, 2 rows
    assert(txt.contains("alice"))
  }

  test("partitioned parquet writes hive-style directories") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile.getPath
    ReportSink.parquetPartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("owner", "n"), dir, Seq("owner"))
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("owner="))
    assert(parts.toSet == Set("owner=a", "owner=b"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  /** ~200 KB of payload: 2000 rows × ~100 B strings (incompressible-ish). */
  private def sizedInput = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    (0 until 2000).map(i => (i.toLong, rnd.alphanumeric.take(100).mkString)).toDF("id", "payload")
  }

  test("sized parquet splits output near the target file size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sized").toFile.getPath + "/out"
    val df = sizedInput
    ReportSink.parquetSized(df, dir, targetFileBytes = 64L << 10, sampleRows = 500)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2, s"expected a multi-file split, got ${files.length}")
    assert(files.forall(_.length < (64L << 10) * 2), "file far beyond target")
    assert(spark.read.parquet(dir).count() == 2000)
    assert(!new java.io.File(dir + "._probe").exists, "probe not cleaned up")
    // a huge target collapses the same data to a single file
    val dir2 = java.nio.file.Files.createTempDirectory("graft_sized1").toFile.getPath + "/out"
    ReportSink.parquetSized(df, dir2, targetFileBytes = 1L << 30)
    assert(new java.io.File(dir2).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // empty input still writes a readable (schema-only) result
    val dir3 = java.nio.file.Files.createTempDirectory("graft_sized0").toFile.getPath + "/out"
    ReportSink.parquetSized(df.limit(0), dir3)
    assert(spark.read.parquet(dir3).count() == 0)
  }

  test("sized parquet stays under a job bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sized_jobs").toFile.getPath + "/out"
    val (done, jobs) = jobsDuring(
      ReportSink.parquetSized(sizedInput, dir, targetFileBytes = 64L << 10, sampleRows = 500))
    done.get
    assert(spark.read.parquet(dir).count() == 2000)
    info(s"${jobs.size} jobs")
    // 4 jobs: the counted leaf, the probe write, and the repartitioned
    // write's shuffle and write; counting the leaf and the probe with
    // Spark jobs took 8
    assertJobBudget(jobs, 5)
  }

  test("every Tool command runs end-to-end against a generated image") {
    import graft.sources.fsimage.ImageGen
    val img = java.nio.file.Files.createTempFile("tool_img", ".img").toString
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 4, nFiles = 200,
      ecEvery = 3, aclEvery = 5, xattrEvery = 5, nSymlinks = 2,
      quotaEvery = 2))
    try {
      def run(cmd: String, opts: (String, String)*) =
        Tool.run(spark, cmd, img, opts.toMap, Set.empty)
      assert(run("summary").count() > 0)
      assert(run("smallfiles").count() > 0)
      // per-user hotspots: ≤ topN dirs per owner, rnk dense from 1
      val sfu = run("smallfilesusers", "-l" -> "3").collect()
      assert(sfu.nonEmpty)
      assert(sfu.groupBy(_.getAs[String]("owner")).values.forall { rows =>
        rows.length <= 3 && rows.map(_.getAs[Long]("rnk")).sorted.toSeq ==
          (1L to rows.length).toSeq
      })
      assert(run("userusage", "-u" -> "user_0").count() >= 0)
      assert(run("path").count() > 0)
      assert(run("inode", "-i" -> "/dir_0").count() == 1)
      val acl = run("acl", "-i" -> "/dir_0").collect()
      assert(acl.length == 1 && acl.head.getAs[Int]("n_acl") >= 0)
      val xa = run("xattr", "-i" -> "/dir_0/f_0.dat").collect()
      assert(xa.length == 1 && xa.head.getAs[Int]("n_xattr") == 2)
      // preferredBlockSize surfaces (reference JsonUtil.java:43)
      assert(run("inode", "-i" -> "/dir_0/f_0.dat")
        .head.getAs[Long]("pref_block") == 128L << 20)
      // quotas: dirs 0 and 2 carry (1000+i, 1GiB+i); 200 files round-robin
      // over 4 dirs → 50 files under dir_0, +1 for the dir itself
      val quotas = run("quotas").collect()
      assert(quotas.map(_.getAs[String]("dir")).toSeq == Seq("/dir_0", "/dir_2"))
      val q0 = quotas.head
      assert(q0.getAs[Long]("ns_quota") == 1000L)
      assert(q0.getAs[Long]("ns_used") == 51L)
      assert(q0.getAs[Long]("ns_rem") == 949L)
      // exact ds_used from independently re-derived generator ground
      // truth: files under dir_0 are i ≡ 0 (mod 4), EC every 3rd file,
      // repl = 1 + i%3 otherwise — consumed-size formula per FsUtil
      val ecPol = graft.sources.fsimage.FsImageFormat.EcPoliciesById(1)
      val expectedDs = (0 until 200 by 4).map { i =>
        val size = 1024L * (1 + i % 3000)
        if (i % 3 == 0) graft.sources.fsimage.FsImageFormat.ecBlockConsumed(size, ecPol)
        else size * (1 + i % 3)
      }.sum
      assert(q0.getAs[Long]("ds_used") == expectedDs)
      assert(q0.getAs[Long]("ds_rem") ==
             q0.getAs[Long]("ds_quota") - expectedDs)
      // quota-less dirs surface -1 (Hadoop's explicit no-quota marker)
      assert(run("inode", "-i" -> "/dir_1").head.getAs[Long]("ns_quota") == -1L)
      assert(run("growth").count() > 0)
      assert(run("growthdirs").count() > 0)
      assert(run("dupnames").count() == 0) // generated names are unique
      // du at depth 1: root + the 4 dirs
      assert(run("du", "-d" -> "1").count() == 5)
      // compaction: every dir holds >1 small file → bins save inodes
      val plan = run("compaction").collect()
      assert(plan.length == 4 && plan.forall(_.getAs[Long]("files_saved") > 0))
      // ext: generated files are all f_<i>.dat
      val ext = run("ext").collect()
      assert(ext.length == 1 && ext.head.getAs[String]("ext") == "dat")
      assert(ext.head.getAs[Long]("n_files") == 200L)
      assert(ext.head.getAs[Long]("size_share_bp") == 10000L)
      assert(run("sections").count() >= 3)
      assert(run("snapshots").count() == 0) // image carries no SNAPSHOT section
      assert(run("refs").count() == 0)      // ...nor an INODE_REFERENCE one
      assert(run("diffs").count() == 0)     // ...nor SNAPSHOT_DIFF
      assert(run("openfiles").count() == 0) // ...nor FILES_UNDERCONSTRUCTION
      assert(run("cachepools").count() == 0) // ...nor CACHE_MANAGER
      assert(run("cache").count() == 0)
      // subtree option restricts the inode set
      assert(run("path", "-p" -> "/dir_0").count() <
             run("path").count())
      // multiple subtrees in ONE run (reference --path list): repeated -p
      // unions exactly the two subtrees — no double-count, no spillover
      val two = Tool.run(spark, "path", img, Map.empty, Set.empty,
        paths = Seq("/dir_0", "/dir_1"))
      assert(two.count() ==
        run("path", "-p" -> "/dir_0").count() +
        run("path", "-p" -> "/dir_1").count())
      // '/'-boundary matching: "/dir" is a string prefix of every
      // "/dir_N" path but names no inode and no subtree — it must select
      // nothing (a raw startsWith would return the whole image here)
      assert(run("path", "-p" -> "/dir").count() == 0)
      // ...and a trailing slash selects the same subtree as the bare dir
      assert(run("path", "-p" -> "/dir_0/").count() ==
             run("path", "-p" -> "/dir_0").count())
      intercept[IllegalArgumentException](run("no_such_command"))
    } finally new java.io.File(img).delete()
  }

  test("-p subtree restriction applies to cache and openfiles too") {
    import graft.sources.fsimage.ImageGen
    val img = java.nio.file.Files.createTempFile("tool_pimg", ".img").toString
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 4, nFiles = 40, ucEvery = 5,
      nCachePools = 2, nCacheDirectives = 5))
    try {
      def run(cmd: String, opts: (String, String)*) =
        Tool.run(spark, cmd, img, opts.toMap, Set.empty)
      val allCache = run("cache").collect()
      val allOpen = run("openfiles").collect()
      assert(allCache.nonEmpty && allOpen.nonEmpty)
      def inSub(p: String, sub: String) = p == sub || p.startsWith(sub + "/")
      val sub = "/dir_0"
      // cache: out-of-subtree directives DROP (not 0-byte rows)
      val subCache = run("cache", "-p" -> sub).collect()
      assert(subCache.map(_.getAs[Long]("directive_id")).toSet ===
        allCache.filter(r => inSub(r.getAs[String]("path"), sub))
          .map(_.getAs[Long]("directive_id")).toSet)
      assert(subCache.length < allCache.length)
      // openfiles: restriction flows through the inode side of the join
      val subOpen = run("openfiles", "-p" -> sub).collect()
      assert(subOpen.map(_.getAs[String]("path")).toSet ===
        allOpen.filter(r => inSub(r.getAs[String]("path"), sub))
          .map(_.getAs[String]("path")).toSet)
      assert(subOpen.nonEmpty && subOpen.length < allOpen.length)
    } finally new java.io.File(img).delete()
  }

  test("Tool diff: image-to-image namespace diff with exact change counts") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_tooldiff").toFile
    val (a, b) = (new java.io.File(dir, "a.img").getPath,
      new java.io.File(dir, "b.img").getPath)
    try {
      // the DiffBench construction in miniature: B adds 2 files, drops
      // the 5 symlinks, and shifts every 100th shared file's size
      ImageGen.write(a, ImageGen.GenSpec(nDirs = 4, nFiles = 200, nSymlinks = 5))
      ImageGen.write(b, ImageGen.GenSpec(nDirs = 4, nFiles = 202,
        nSymlinks = 0, sizeShiftEvery = 100))
      val diff = Tool.run(spark, "diff", a, Map("--against" -> b), Set.empty)
        .groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(diff("added") == 2L)
      assert(diff("removed") == 5L)
      assert(diff("modified") == 2L) // files 0 and 100
      // --distributed is accepted and selects nothing
      val dist = Tool.run(spark, "diff", a, Map("--against" -> b),
        Set("--distributed")).groupBy("change").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dist == diff)
      intercept[IllegalArgumentException](
        Tool.run(spark, "diff", a, Map.empty, Set.empty))

      // incrsummary / incrhistogram: the maintained after-report must equal
      // a direct recompute on the after image — the O(|diff|) CLI shape
      import graft.sources.FsImageSource
      import graft.operators.Reports
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      val afterIno = FsImageSource.inodesDistributed(spark, b)
      val incrSum = Tool.run(spark, "incrsummary", a, Map("--against" -> b), Set.empty)
      assert(rows(incrSum) === rows(
        Reports.filesSummary(afterIno).orderBy("owner")))
      val incrHist = Tool.run(spark, "incrhistogram", a, Map("--against" -> b), Set.empty)
      assert(rows(incrHist) === rows(Reports.sizeHistogram(afterIno)))
    } finally {
      new java.io.File(a).delete(); new java.io.File(b).delete(); dir.delete()
    }
  }

  test("Tool.parseArgs: repeated -p, switches, and pairs don't collide") {
    val (opts, flags, paths) = Tool.parseArgs(Seq(
      "--distributed", "-p", "/a", "-v", "-p", "/b,/c", "-l", "10"))
    assert(paths == Seq("/a", "/b,/c"))
    assert(opts == Map("-l" -> "10"))
    assert(flags == Set("--distributed", "-v"))
    intercept[IllegalArgumentException](Tool.parseArgs(Seq("-l")))
  }

  test("Tool.parseAge handles the reference's age grammar") {
    assert(Tool.parseAge("60d") == 60L * 24 * 60 * 60 * 1000)
    assert(Tool.parseAge("12h") == 12L * 60 * 60 * 1000)
    assert(Tool.parseAge("1y") == 365L * 24 * 60 * 60 * 1000)
    intercept[IllegalArgumentException](Tool.parseAge("5 parsecs"))
  }
}
