package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Reports
import graft.sources.{FsImageSource, ReportSink}
import graft.functions.IECBinaryImpl

/** CLI counterpart of the reference's `hfsa-tool`
  * (tool/.../HdfsFSImageTool.java): runs HFSA reports against an fsimage.
  *
  * {{{
  * runMain graft.Tool <command> <fsimage> [options]
  *   commands: summary | smallfiles | smallfilesusers | userusage | path |
  *             inode | acl | xattr | quotas | growth | growthdirs |
  *             dupnames | du | compaction | ext | sections | snapshots |
  *             refs | diffs | openfiles | cachepools | cache | secrets |
  *             diff (image-to-image namespace diff: `diff <before>
  *             --against <after>`; -p applies to both sides) |
  *             incrsummary | incrhistogram (after-image report maintained
  *             from the before image + diff delta, O(|diff|) — same
  *             two-image call shape as diff)
  *   -o txt|csv|json   output format (csv/json write to --out dir)
  *   -p <path>         subtree to analyze (default /); repeatable, and a
  *                     single -p also accepts a comma-separated list —
  *                     multiple dirs analyze their union in ONE image read
  *                     (reference HdfsFSImageTool.java:45 `--path` list)
  *   -v / -vv          verbosity (reference HdfsFSImageTool.java:25): -v
  *                     echoes the parsed invocation, -vv also prints the
  *                     formatted physical plan before execution
  *   -fun <regex>      filter by user name (summary/path commands)
  *   -s fs|fc|dc|bc    summary sort: size, file/dir/block count
  *   --fsl <iec>       small-file limit, e.g. 2MiB (smallfiles/compaction)
  *   --target <iec>    compaction archive target size, default 8MiB
  *   -d <depth>        du/growthdirs depth cap (default 2)
  *   -l <n>            top-N limit (default 20)
  *   -a <age>          age filter like 60d / 12h / 1y (userusage)
  *   -u <user>         user (userusage)
  *   --out <dir>       output dir for csv/json
  *   --distributed     accepted for old command lines; selects nothing
  * }}}
  *
  * Every command loads through [[FsImageSource.inodesDistributed]];
  * summary, growth, ext and dupnames without -p skip its path resolution
  * (no column they read needs a path). A zlib-compressed image inflates
  * its INODE and INODE_DIR sections once into hidden side files next to
  * the image (`.<image>.graft-INODE`, reused while newer than the image),
  * so the image's directory must be writable.
  */
object Tool {

  /** The commands whose report reads neither `path` nor `depth`
    * (`summaryByUser`: owner and type/size sums, `-fun` filters on owner;
    * `growthProfile`: mtime; `extensionReport` and `dupNames`: the inode
    * name). With no `-p` subtree they run on the loader's parsed rows,
    * paths pending: resolving every directory path costs the load a
    * dozen Spark jobs that such a report never reads.
    * Every other command, and every `-p` run, resolves paths first. */
  private val PathFree = Set("summary", "growth", "ext", "dupnames")

  private val AgePattern = """(\d+)([yYdDhH])""".r

  /** "60d" → ms, mirroring UserUsageReportCommand.AgeConverter. */
  def parseAge(s: String): Long = s match {
    case AgePattern(n, u) =>
      val factor = u.toLowerCase match {
        case "y" => 365L * 24 * 60 * 60 * 1000
        case "d" => 24L * 60 * 60 * 1000
        case "h" => 60L * 60 * 1000
      }
      n.toLong * factor
    case _ => throw new IllegalArgumentException(s"bad age: $s (want e.g. 60d, 12h, 1y)")
  }

  /** Command dispatch (separated from main so specs can drive every
    * command end-to-end against a generated image without stopping the
    * shared session). `paths` carries repeated `-p` occurrences; a lone
    * `-p a,b` in `opts` is equivalent (both forms union the subtrees).
    * No switch in `flags` changes the result. */
  def run(spark: org.apache.spark.sql.SparkSession, cmd: String, image: String,
          opts: Map[String, String], flags: Set[String],
          paths: Seq[String] = Seq.empty): DataFrame = {
    // summary-only commands — never parse the inode sections
    cmd match {
      case "sections"  => return FsImageSource.sections(spark, image)
      case "snapshots" => return FsImageSource.snapshots(spark, image)
      case "refs"      => return FsImageSource.inodeReferences(spark, image)
      case "diffs"     => return FsImageSource.snapshotDiffs(spark, image)
      case "cachepools" => return FsImageSource.cachePools(spark, image)
      // delegation-token audit (SECRET_MANAGER ⋈ itself — no inode side,
      // so -p does not apply): which tokens outlive or lost their key
      case "secrets" => return Reports.secretReport(
        FsImageSource.delegationTokens(spark, image),
        FsImageSource.delegationKeys(spark, image))
      case _           => ()
    }
    val dirs = subtrees(opts, paths)
    val all =
      if (PathFree(cmd) && dirs == Seq("/")) FsImageSource.inodesPending(spark, image).rows
      else FsImageSource.inodesDistributed(spark, image)
    report(spark, cmd, image, all, opts, dirs)
  }

  /** The `-p` subtrees: repeated `-p` occurrences, else a lone `-p a,b`,
    * else "/". */
  private[graft] def subtrees(opts: Map[String, String], paths: Seq[String]): Seq[String] =
    if (paths.nonEmpty) paths.flatMap(_.split(",")).distinct
    else opts.getOrElse("-p", "/").split(",").toSeq

  /** `cmd`'s report over `all`, the image's inode rows, restricted to the
    * `dirs` subtrees. */
  private[graft] def report(spark: org.apache.spark.sql.SparkSession, cmd: String,
                            image: String, all: DataFrame, opts: Map[String, String],
                            dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // require a '/' boundary after the prefix: -p /data must match
    // /data and /data/x but NOT the sibling /database
    def subtree(df: DataFrame, pathCol: String): DataFrame =
      if (dirs == Seq("/")) df
      else {
        val norm = dirs.map(d => if (d != "/" && d.endsWith("/")) d.dropRight(1) else d)
        df.filter(norm.map(d =>
            if (d == "/") lit(true)
            else col(pathCol).startsWith(d + "/") || col(pathCol) === d)
          .reduce(_ || _))
      }
    val inodes = subtree(all, "path")
    // cache directives + accounting joins the (tiny) CACHE_MANAGER tables
    // with the inode table — `hdfs cacheadmin -listDirectives -stats`.
    // -p restricts BOTH sides: out-of-subtree directives drop instead of
    // lingering as misleading 0-byte rows
    if (cmd == "cache")
      return Reports.cacheReport(inodes,
        subtree(FsImageSource.cacheDirectives(spark, image), "path"),
        FsImageSource.cachePools(spark, image))
    // openfiles joins the (tiny) FILES_UNDERCONSTRUCTION section with the
    // inode table — the `hdfs dfsadmin -listOpenFiles` equivalent; -p
    // restricts through the filtered inode side of the join
    if (cmd == "openfiles")
      return Reports.openFiles(inodes, FsImageSource.filesUnderConstruction(spark, image))
    // image-to-image namespace diff — what changed between two fsimages
    // (added/removed/modified by path): `diff <before> --against <after>`.
    // Positional arg 2 is the BEFORE image (consistent with every other
    // command's image slot); -p restricts both sides to the subtree.
    if (cmd == "diff" || cmd == "incrsummary" || cmd == "incrhistogram") {
      val after = opts.getOrElse("--against",
        throw new IllegalArgumentException(s"$cmd needs --against <afterImage>"))
      val afterAll = FsImageSource.inodesDistributed(spark, after)
      val diff = Reports.namespaceDiff(inodes, subtree(afterAll, "path"))
      return cmd match {
        case "diff" => diff
        // incremental report maintenance: the AFTER image's report
        // derived from the BEFORE image + the diff delta — the after
        // namespace is never aggregated (O(|diff|) maintenance; at fleet
        // scale the before report is a stored table, not a re-scan)
        case "incrsummary" =>
          Reports.applySummaryDelta(Reports.filesSummary(inodes),
            Reports.summaryDelta(diff))
        case _ =>
          Reports.applyHistogramDelta(Reports.sizeHistogram(inodes),
            Reports.histogramDelta(diff))
      }
    }
    val topN = opts.get("-l").map(_.toInt).getOrElse(20)

    cmd match {
      case "summary" =>
        Reports.summaryByUser(inodes, sortBy = opts.getOrElse("-s", "fs"),
          ownerRegex = opts.get("-fun"))
      case "smallfiles" =>
        val limit = opts.get("--fsl").map(IECBinaryImpl.parse).getOrElse(2L << 20)
        Reports.smallFilesHotspots(inodes, limit, topN)
      case "smallfilesusers" => // per-user hotspot dirs (reference csv/txt detail)
        val limit = opts.get("--fsl").map(IECBinaryImpl.parse).getOrElse(2L << 20)
        Reports.smallFilesUserHotspots(inodes, limit, perUserN = topN)
      case "userusage" =>
        val user = opts.getOrElse("-u",
          throw new IllegalArgumentException("userusage needs -u <user>"))
        val cutoff = opts.get("-a")
          .map(a => (System.currentTimeMillis() - parseAge(a)) / 1000)
          .getOrElse(Long.MaxValue)
        Reports.userUsage(inodes, user, cutoff, topN)
      case "path" =>
        Reports.pathReport(inodes, opts.getOrElse("-fun", ".*"), maxRows = 10000)
      case "inode" =>
        val key = opts.getOrElse("-i", "/")
        key.toLongOption match {
          case Some(id) => Reports.inodeLookupById(inodes, Seq(id))
          case None     => Reports.inodeLookup(inodes, Seq(key))
        }
      case "acl" =>
        Reports.aclStatus(inodes, opts.getOrElse("-i", "/").split(",").toSeq)
      case "xattr" =>
        Reports.xattrStatus(inodes, opts.getOrElse("-i", "/").split(",").toSeq)
      case "quotas" =>
        Reports.quotaReport(inodes)
      case "growth" =>
        Reports.growthProfile(inodes)
      case "growthdirs" =>
        Reports.growthByDir(inodes,
          maxDepth = opts.get("-d").map(_.toInt).getOrElse(2), topN = topN)
      case "dupnames" =>
        Reports.dupNames(inodes, topN)
      case "du" =>
        Reports.duReport(inodes,
          maxDepth = opts.get("-d").map(_.toInt).getOrElse(2), topN = topN)
      case "compaction" =>
        val limit = opts.get("--fsl").map(IECBinaryImpl.parse).getOrElse(2L << 20)
        val target = opts.get("--target").map(IECBinaryImpl.parse).getOrElse(8L << 20)
        Reports.compactionPlan(inodes, limit, target, topN)
      case "ext" =>
        Reports.extensionReport(inodes, topN)
      case other =>
        throw new IllegalArgumentException(s"unknown command: $other " +
          "(expected one of: summary smallfiles smallfilesusers userusage " +
          "path inode acl xattr quotas growth growthdirs dupnames du " +
          "compaction ext sections snapshots refs diffs diff incrsummary " +
          "incrhistogram openfiles cachepools cache secrets)")
    }
  }

  /** Boolean switches (no operand). Everything else starting with `-` is a
    * `-key value` pair — a positional walk, not sliding(2,2), so a switch
    * before a pair can't shift the pairing. `--distributed` is kept so old
    * command lines parse; it selects nothing. */
  private val Switches = Set("--distributed", "-v", "-vv")

  /** → (opts, flags, paths): repeated `-p` accumulates into `paths` in
    * order; other repeated keys keep the LAST value (getopt convention). */
  def parseArgs(rest: Seq[String]): (Map[String, String], Set[String], Seq[String]) = {
    val opts = Map.newBuilder[String, String]
    val flags = Set.newBuilder[String]
    val paths = Seq.newBuilder[String]
    var i = 0
    while (i < rest.length) {
      val a = rest(i)
      if (Switches.contains(a)) { flags += a; i += 1 }
      else {
        require(i + 1 < rest.length, s"option $a needs a value")
        if (a == "-p") paths += rest(i + 1) else opts += a -> rest(i + 1)
        i += 2
      }
    }
    (opts.result(), flags.result(), paths.result())
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Tool <command> <fsimage> [options]")
    val cmd = args(0)
    val image = args(1)
    val (opts, flags, paths) = parseArgs(args.drop(2).toSeq)
    val verbosity = if (flags.contains("-vv")) 2 else if (flags.contains("-v")) 1 else 0

    val spark = graft.core.GraftSession.get()
    spark.sparkContext.setLogLevel(if (verbosity >= 2) "WARN" else "ERROR")
    try {
      if (verbosity >= 1)
        println(s"[tool] cmd=$cmd image=$image " +
          s"paths=${if (paths.isEmpty) Seq("/") else paths} opts=$opts flags=$flags")
      val df = run(spark, cmd, image, opts, flags, paths)
      if (verbosity >= 2) df.explain("formatted")
      val topN = opts.get("-l").map(_.toInt).getOrElse(20)

      ReportSink.emit(df, opts, "/tmp/graft_tool_out",
        maxRows = math.max(topN, 50))
    } finally spark.stop()
  }
}
