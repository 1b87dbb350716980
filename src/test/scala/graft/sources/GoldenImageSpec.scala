package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fsimage loader and the reference walk
  * ([[FsImageSourceSpec.Reference]], the driver loader of these test
  * names) on a committed image, so the parser checks run on every machine
  * (the real-image cases in [[FsImageSourceSpec]] need fixtures that are
  * not always present). `fsimage/golden.img` is the
  * output of
  * {{{
  * ImageGen.write(path, ImageGen.GenSpec(nDirs = 24, nFiles = 2000,
  *   ecEvery = 7, aclEvery = 50, xattrEvery = 60, nSymlinks = 25,
  *   withAtime = true, quotaEvery = 4, chainDirs = 10, ucEvery = 100,
  *   permVariety = true))
  * }}}
  * and the totals below are that call's `GenSummary` and the spec's
  * counts, written as literals so that neither a parser nor a generator
  * change can move them. */
class GoldenImageSpec extends SparkSpecBase {
  import FsImageSourceSpec.Reference

  private val Img = getClass.getResource("/fsimage/golden.img").getPath

  /** Deepest chain dir: root → dir_0 → … → dir_9. */
  private val Deepest = (0 until 10).map(j => s"dir_$j").mkString("/", "/", "")

  private def checkTotals(df: DataFrame): Unit = {
    assert(df.count() == 2050L) // 1 root + 24 dirs + 2000 files + 25 symlinks
    val byType = df.groupBy("ftype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("F" -> 2000L, "D" -> 25L, "S" -> 25L))
    val files = df.filter(col("ftype") === "F").agg(sum("size"), sum("csize"),
      count(when(col("ec_policy") === "RS-6-3-1024k", 1)), count(when(col("n_acl") > 0, 1)),
      count(when(col("n_xattr") > 0, 1)), count(when(col("under_construction"), 1))).head()
    // Σ size, Σ consumed, EC / ACL / XAttr / under-construction files
    assert(files.toSeq == Seq(2049024000L, 4705300480L, 286L, 40L, 34L, 20L))
    assert(df.filter(col("ftype") === "D" && col("ns_quota") >= 0).count() == 6L)
    val deep = df.filter(col("path") === Deepest).select("ftype", "depth").collect()
    assert(deep.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("D", 10)))
  }

  test("distributed loader matches the generator's totals") {
    checkTotals(FsImageSource.inodesDistributed(spark, Img))
  }

  test("every inode-reading Tool command agrees between the two loaders") {
    // summary/growth/ext/dupnames without -p run on rows whose paths were
    // never resolved; a command that reads a path would read "" there and
    // disagree with the same report over the reference's resolved rows
    val cases: Seq[(String, Map[String, String], Seq[String])] = Seq(
      ("summary", Map.empty, Nil),
      ("summary", Map("-fun" -> "^user(1|2)$", "-s" -> "fc"), Nil),
      ("summary", Map.empty, Seq(Deepest.split("/").take(4).mkString("/"))),
      ("summary", Map("-p" -> "/dir_11,/dir_12"), Nil),
      ("growth", Map.empty, Nil),
      ("ext", Map.empty, Nil),
      ("dupnames", Map("-l" -> "100"), Nil),
      ("path", Map.empty, Nil),
      ("smallfiles", Map.empty, Nil),
      ("smallfilesusers", Map.empty, Nil),
      ("userusage", Map("-u" -> "user1"), Nil),
      ("inode", Map("-i" -> Deepest), Nil),
      ("acl", Map("-i" -> "/dir_0,/dir_0/dir_1,/dir_12/f_60.dat"), Nil),
      ("xattr", Map("-i" -> "/dir_12/f_60.dat"), Nil),
      ("quotas", Map.empty, Nil),
      ("growthdirs", Map("-d" -> "3"), Nil),
      ("du", Map("-d" -> "3"), Nil),
      ("compaction", Map.empty, Nil),
      ("openfiles", Map.empty, Nil),
      ("cache", Map.empty, Nil))
    val resolved = Reference.inodes(spark, Img)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((cmd, opts, paths) <- cases) {
      val want = rows(graft.Tool.report(spark, cmd, Img, resolved, opts,
        graft.Tool.subtrees(opts, paths)))
      assert(rows(graft.Tool.run(spark, cmd, Img, opts, Set.empty, paths)) == want,
        s"$cmd $opts $paths")
      info(s"$cmd ${opts.map { case (k, v) => s"$k $v" }.mkString(" ")} " +
        s"${paths.map("-p " + _).mkString(" ")}: ${want.size} rows")
    }
  }

  test("driver and distributed loaders agree row for row") {
    val a = Reference.inodes(spark, Img)
    val b = FsImageSource.inodesDistributed(spark, Img, parallelism = 3)
    assert(a.exceptAll(b).isEmpty, "rows only the reference walk produced")
    assert(b.exceptAll(a).isEmpty, "rows only the distributed loader produced")
  }
}
