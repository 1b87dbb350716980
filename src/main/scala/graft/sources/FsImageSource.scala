package graft.sources

import java.io.RandomAccessFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, length, lit, translate, when}
import org.apache.spark.storage.StorageLevel
import graft.operators.Rounds
import graft.sources.fsimage.FsImageFormat
import graft.sources.fsimage.FsImageFormat._

/** HDFS fsimage → DataFrame source (SURVEY §2.1). Produces the same inode
  * schema as [[graft.core.Namespace]] (plus fsimage-only columns: id,
  * atime_sec, storage_policy, ec_policy, symlink_target, n_acl, acl,
  * n_xattr, xattrs), so every report in [[graft.operators.Reports]] runs
  * unchanged on real namenode metadata.
  *
  * Two loaders:
  *  - [[inodes]]: driver-side parse (the reference's posture — its
  *    FsImageLoader is fully in-memory, lib/.../core/FsImageLoader.java:286).
  *    Right for ad-hoc images up to a few million inodes.
  *  - [[inodesDistributed]]: the scale path. The driver never holds a
  *    section, the directory tree or anything O(#dirs) or O(#inodes): it
  *    streams the INODE/INODE_DIR sections once to find message-aligned
  *    chunk boundaries (O(buffer) memory, [[FsImageFormat.scanRanges]];
  *    chunk = min(targetChunkBytes, max(64 KiB, section / cores)), so a
  *    small section still spreads over the cluster's cores) and ships only
  *    (start, end) offset pairs; each task reads its own byte range via the
  *    Hadoop FileSystem API ([[FsImageFormat.readRange]] — file:// and DFS
  *    paths alike) and parses it straight into encoded [[FsInode]] rows,
  *    path and depth pending. That parse is a stage of its own,
  *    [[inodesPending]], which scans the INODE_DIR ranges only when its
  *    edges are read: a report that reads neither `path` nor `depth`
  *    (`graft.Tool`'s `summary`, `growth`, `ext` and `dupnames` without a
  *    `-p` subtree) parses in its own first stage and starts none of the
  *    jobs below. [[inodesDistributed]] is that stage plus path
  *    resolution:
  *     1. a narrow (id, ftype, name, parent) table, joined from those rows
  *        and the INODE_DIR edges, materialized once with measured
  *        statistics ([[graft.operators.Rounds.eager]]), so the joins
  *        against it and the dir-path table plan from their real size —
  *        broadcasts at this repository's image sizes, shuffles at fleet
  *        scale;
  *     2. directory paths by pointer jumping ([[dirPathsDistributed]]:
  *        O(log depth) rounds on [[graft.operators.Rounds.untilStable]]);
  *     3. every inode's (id, path, depth) from its parent's path, measured
  *        the same way, and one join of the wide rows to it.
  *    The O(#inodes) materializations (the parsed rows, the narrow and the
  *    path tables) are DISK_ONLY: they stream to the disk store and never
  *    compete with execution memory — the difference between completing
  *    and OOMing under a 2 GiB cap at 10⁷–10⁸ inodes. Zlib images are not
  *    splittable, so their sections are inflated once, streaming, to a
  *    side file that the ranged reads then target — on a cluster, point
  *    the side file at shared storage (or store scale images uncompressed,
  *    which is also the Hadoop default for large fsimages).
  */
object FsImageSource {

  final case class FsInode(path: String, name: String, ftype: String,
                           owner: String, grp: String, perm: String,
                           size: Long, csize: Long, repl: Int, blocks: Long,
                           mtime_sec: Long, depth: Int, id: Long,
                           atime_sec: Long, storage_policy: Int,
                           ec_policy: String, symlink_target: String,
                           n_acl: Int, acl: Seq[String],
                           n_xattr: Int, xattrs: Seq[String],
                           ns_quota: Long, ds_quota: Long,
                           pref_block: Long,
                           under_construction: Boolean = false,
                           uc_client: String = "", uc_machine: String = "")

  /** Hadoop's fixed root inode id (INodeId.ROOT_INODE_ID). */
  val RootInodeId = 16385L

  def inodes(spark: SparkSession, imagePath: String): DataFrame = {
    val rows = loadRows(imagePath)
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  final case class FsSection(name: String, length: Long, offset: Long,
                             codec: String, layout_version: Int)

  /** FileSummary section inventory — what an image actually contains
    * (INODE, INODE_DIR, STRING_TABLE, SNAPSHOT, SNAPSHOT_DIFF, XATTR-era
    * sections, …), with on-disk lengths. The admin's first look at an
    * unknown image: which features are present and what dominates its
    * size. Driver-side only — the summary is a few hundred bytes. */
  def sections(spark: SparkSession, imagePath: String): DataFrame = {
    val s = FsImageFormat.readSummary(imagePath,
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    spark.createDataset(s.sections.map(x =>
      FsSection(x.name, x.length, x.offset, s.codec.getOrElse(""),
        s.layoutVersion))).toDF()
  }

  final case class FsSnapshot(snapshot_id: Int, name: String, root_id: Long)

  /** SNAPSHOT section inventory: one row per snapshot (id, name, the
    * snapshotted directory's inode id — join on inodes.id for the path).
    * Empty when the image has no SNAPSHOT section. */
  def snapshots(spark: SparkSession, imagePath: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    import spark.implicits._
    val rows = summary.sections.find(_.name == "SNAPSHOT") match {
      case None => Seq.empty[FsSnapshot]
      case Some(sec) =>
        val bytes = FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, sec, conf), summary.codec)
        FsImageFormat.parseSnapshots(bytes).snapshots
          .map(s => FsSnapshot(s.snapshotId, s.name, s.rootId))
    }
    spark.createDataset(rows).toDF()
  }

  final case class FsSnapshotDiff(inode_id: Long, diff_type: String,
                                  snapshot_id: Int, file_size: Long,
                                  name: String, n_created: Int, n_deleted: Int)

  /** SNAPSHOT_DIFF section: one row per (inode, snapshot) diff — the
    * per-snapshot file length for files, created/deleted child counts for
    * directories. Join inode_id on inodes.id for the live path. Empty
    * when the image carries no snapshot diffs. */
  def snapshotDiffs(spark: SparkSession, imagePath: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    import spark.implicits._
    val rows = summary.sections.find(_.name == "SNAPSHOT_DIFF") match {
      case None => Seq.empty[FsSnapshotDiff]
      case Some(sec) =>
        val bytes = FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, sec, conf), summary.codec)
        FsImageFormat.parseSnapshotDiffs(bytes).map(d =>
          FsSnapshotDiff(d.inodeId, d.diffType, d.snapshotId, d.fileSize,
            d.name, d.nCreated, d.nDeleted))
    }
    spark.createDataset(rows).toDF()
  }

  final case class FsUcEntry(inode_id: Long, full_path: String)

  /** FILES_UNDERCONSTRUCTION section: one row per file with an open
    * lease at image time (inode id, namenode-resolved full path). Join
    * inode_id on inodes.id for owner / client-name / size detail — the
    * `hdfs dfsadmin -listOpenFiles` readout
    * ([[graft.operators.Reports.openFiles]]). Empty when the image has
    * no open files. The reference drops this section entirely
    * (FsImageLoader.java loads only string/inode/dir sections). */
  def filesUnderConstruction(spark: SparkSession, imagePath: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    import spark.implicits._
    val rows = summary.sections.find(_.name == "FILES_UNDERCONSTRUCTION") match {
      case None => Seq.empty[FsUcEntry]
      case Some(sec) =>
        val bytes = FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, sec, conf), summary.codec)
        FsImageFormat.parseFilesUnderConstruction(bytes)
          .map(u => FsUcEntry(u.inodeId, u.fullPath))
    }
    spark.createDataset(rows).toDF()
  }

  final case class FsCachePool(pool: String, owner: String, grp: String,
                               mode: String, limit: Long,
                               max_relative_expiry_ms: Long,
                               default_replication: Int)
  final case class FsCacheDirective(directive_id: Long, path: String,
                                    cache_replication: Int, pool: String,
                                    expiry_ms: Long, expiry_relative: Boolean)

  private def cacheSection(spark: SparkSession, imagePath: String)
      : Option[FsImageFormat.CacheManagerSection] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    summary.sections.find(_.name == "CACHE_MANAGER").map { sec =>
      FsImageFormat.parseCacheManager(FsImageFormat.maybeDecompress(
        FsImageFormat.readSection(imagePath, sec, conf), summary.codec))
    }
  }

  /** CACHE_MANAGER pools — the `hdfs cacheadmin -listPools` readout
    * (name, owner/group, mode octal, byte limit, max relative expiry,
    * default replication). Empty when the image carries no cache state.
    * Beyond reference parity (hfsa drops the section). */
  def cachePools(spark: SparkSession, imagePath: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(cacheSection(spark, imagePath).toSeq.flatMap(_.pools)
      .map(p => FsCachePool(p.name, p.owner, p.group, "%04o".format(p.mode),
        p.limit, p.maxRelativeExpiryMs, p.defaultReplication))).toDF()
  }

  /** CACHE_MANAGER directives — the `hdfs cacheadmin -listDirectives`
    * readout (id, cached path, cache replication, pool, absolute or
    * relative expiry; expiry_ms 0 = never). Join path on inodes.path for
    * the cached bytes ([[graft.operators.Reports.cacheReport]]). */
  def cacheDirectives(spark: SparkSession, imagePath: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(cacheSection(spark, imagePath).toSeq.flatMap(_.directives)
      .map(d => FsCacheDirective(d.id, d.path, d.replication, d.pool,
        d.expiryMs, d.expiryRelative))).toDF()
  }

  final case class FsDelegationKey(key_id: Int, key_expiry_ms: Long,
                                   key_len: Int)
  final case class FsDelegationToken(seq: Int, version: Int, owner: String,
                                     renewer: String, real_user: String,
                                     issue_ms: Long, max_ms: Long,
                                     master_key_id: Int, expiry_ms: Long)

  private def secretSection(spark: SparkSession, imagePath: String)
      : Option[FsImageFormat.SecretManagerSection] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    summary.sections.find(_.name == "SECRET_MANAGER").map { sec =>
      FsImageFormat.parseSecretManager(FsImageFormat.maybeDecompress(
        FsImageFormat.readSection(imagePath, sec, conf), summary.codec))
    }
  }

  /** SECRET_MANAGER delegation keys — master-key inventory (id, expiry,
    * key LENGTH only; material never leaves the parser). Empty when the
    * image carries no secret-manager state. Beyond reference parity
    * (hfsa drops the section). */
  def delegationKeys(spark: SparkSession, imagePath: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(secretSection(spark, imagePath).toSeq.flatMap(_.keys)
      .map(key => FsDelegationKey(key.id, key.expiryMs, key.keyLen))).toDF()
  }

  /** SECRET_MANAGER persisted delegation tokens — one row per live token
    * (sequence number, owner/renewer/real-user, issue/max/expiry times,
    * signing master-key id). Join master_key_id on
    * [[delegationKeys]].key_id for the token-vs-key audit
    * ([[graft.operators.Reports.secretReport]]). */
  def delegationTokens(spark: SparkSession, imagePath: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(secretSection(spark, imagePath).toSeq.flatMap(_.tokens)
      .map(t => FsDelegationToken(t.sequenceNumber, t.version, t.owner,
        t.renewer, t.realUser, t.issueMs, t.maxMs, t.masterKeyId,
        t.expiryMs))).toDF()
  }

  final case class FsInodeRef(referred_id: Long, name: String,
                              dst_snapshot_id: Int, last_snapshot_id: Int)

  /** INODE_REFERENCE section: one row per snapshot-rename indirection
    * node (referred inode id, recorded name, dst/last snapshot ids — -1
    * when absent). Join referred_id on inodes.id for the live inode; a
    * row with last_snapshot_id ≥ 0 means the old name survives only
    * inside that snapshot. Empty when the image has no renames across
    * snapshot boundaries. */
  def inodeReferences(spark: SparkSession, imagePath: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, conf)
    import spark.implicits._
    val rows = summary.sections.find(_.name == "INODE_REFERENCE") match {
      case None => Seq.empty[FsInodeRef]
      case Some(sec) =>
        val bytes = FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, sec, conf), summary.codec)
        FsImageFormat.parseInodeReferences(bytes)
          .map(r => FsInodeRef(r.referredId, r.name, r.dstSnapshotId, r.lastSnapshotId))
    }
    spark.createDataset(rows).toDF()
  }

  /** Merged EC policy table: the built-in five plus whatever the image's
    * ERASURE_CODING section adds (custom ids ≥ 64) — so custom-policy
    * files resolve real names and parity-true consumed sizes instead of
    * the documented `ec#id` / data-bytes fallback. Tiny (couple of
    * policies), read driver-side, broadcast to the distributed loader. */
  private def ecPolicies(summary: FsImageFormat.FileSummary, imagePath: String,
                         conf: org.apache.hadoop.conf.Configuration)
      : Map[Int, FsImageFormat.EcPolicy] =
    summary.sections.find(_.name == "ERASURE_CODING") match {
      case None => FsImageFormat.EcPoliciesById
      case Some(sec) =>
        val custom = FsImageFormat.parseErasureCoding(FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, sec, conf), summary.codec))
        FsImageFormat.EcPoliciesById ++ custom.map(p => p.id -> p)
    }

  private def toInode(i: RawInode, path: String, strings: StringTables,
                      policies: Map[Int, FsImageFormat.EcPolicy] =
                        FsImageFormat.EcPoliciesById): FsInode =
    FsInode(path, i.name,
      i.inodeType match { case 1 => "F"; case 2 => "D"; case 3 => "S"; case _ => "?" },
      strings.user(FsImageFormat.permUserSerial(i.permission)),
      strings.group(FsImageFormat.permGroupSerial(i.permission)),
      "%04o".format(FsImageFormat.permMode(i.permission)),
      i.sizeBytes, i.consumedBytes, i.replication,
      i.numBlocks.toLong, i.mtime / 1000,
      if (path == "/") 0 else path.count(_ == '/'), i.id,
      i.atime / 1000, i.storagePolicy,
      FsImageFormat.ecPolicyName(i.ecPolicy, policies),
      i.symlinkTarget,
      i.aclRaw.length, i.aclRaw.toSeq.map(v => FsImageFormat.aclEntryString(v, strings)),
      i.xattrNames.length,
      i.xattrNames.indices.map(k =>
        FsImageFormat.xattrString(i.xattrNames(k), i.xattrValues(k), strings)),
      i.nsQuota, i.dsQuota, i.preferredBlockSize,
      i.underConstruction, i.ucClient, i.ucMachine)

  /** Iterative memoized upward path walk, O(n) total — iterative (not
    * recursive) so pathological directory depths can't overflow the stack,
    * with a cycle guard so a corrupt image's parent loop raises a
    * diagnosable error instead of recursing forever. */
  private def pathResolver(byId: Map[Long, RawInode],
                           parentOf: Long => Option[Long]): Long => String = {
    val memo = new java.util.HashMap[Long, String]()
    (start: Long) => {
      if (start == RootInodeId || !byId.contains(start)) "/"
      else {
        val cached = memo.get(start)
        if (cached != null) cached
        else {
          val seen = new java.util.HashSet[java.lang.Long]()
          var chain = List.empty[Long] // head = nearest-root unresolved id
          var id = start
          var base: String = null
          while (base == null) {
            if (id == RootInodeId || !byId.contains(id)) base = "/"
            else {
              val c = memo.get(id)
              if (c != null) base = c
              else {
                if (!seen.add(id)) throw new IllegalStateException(
                  s"fsimage directory tree has a parent cycle at inode $id")
                chain ::= id
                id = parentOf(id).getOrElse(RootInodeId)
              }
            }
          }
          var p = base
          chain.foreach { cid =>
            p = (if (p == "/") "" else p) + "/" + byId(cid).name
            memo.put(cid, p)
          }
          p
        }
      }
    }
  }

  /** Hard cap on directory-tree depth for the distributed path walk —
    * far above HDFS reality (dfs.namenode.fs-limits.max-directory-items
    * trees run ~10–40 deep); a walk that has not resolved by then means the
    * image's parent edges form a cycle, and it raises the same diagnosis
    * the driver loader's [[pathResolver]] cycle guard does. */
  private val MaxTreeDepth = 1024

  /** Distributed dir id → absolute path by pointer jumping on
    * [[Rounds.untilStable]]. A row (id, suffix, cursor) means path(id) =
    * path(cursor) + suffix; a round joins the state to itself on cursor =
    * id, so after r rounds a cursor has jumped 2ʳ links and a tree of
    * depth d resolves in ⌈log₂ d⌉ rounds. A cursor that reaches root, or an
    * id the table lacks (a dangling parent), attaches at root, exactly like
    * the driver loader's [[pathResolver]]. Each round's one action is its
    * count of unresolved rows — the only value the driver holds; a parent
    * cycle never resolves, so the round cap raises the cycle diagnosis.
    *
    * @param dirs (id, name, parent) for every non-root directory; parent
    *             is RootInodeId when the image carries no edge for it
    * @return (id, path) for every dir INCLUDING root ("/")
    */
  private[sources] def dirPathsDistributed(spark: SparkSession, dirs: DataFrame,
                                           maxDepth: Int = MaxTreeDepth): DataFrame = {
    import spark.implicits._
    val init = dirs.select(col("id"), concat(lit("/"), col("name")).as("suffix"),
      col("parent").as("cursor"))
    val rounds = 32 - Integer.numberOfLeadingZeros(maxDepth - 1) // ⌈log₂ maxDepth⌉
    val walked =
      try Rounds.untilStable("fsimage dir paths", init, rounds) { s =>
        s.join(s.select(col("id").as("cursor"), col("suffix").as("up"),
            col("cursor").as("next")), Seq("cursor"), "left_outer")
          .select(col("id"), concat(coalesce(col("up"), lit("")), col("suffix")).as("suffix"),
            coalesce(col("next"), lit(RootInodeId)).as("cursor"))
      }(_.filter(col("cursor") =!= RootInodeId).count())
      catch { case e: Rounds.NotConverged => throw new IllegalStateException(
        s"fsimage directory tree has a parent cycle (depth > $maxDepth)", e) }
    walked.select(col("id"), col("suffix").as("path"))
      .unionByName(Seq((RootInodeId, "/")).toDF("id", "path"))
  }

  /** [[inodesDistributed]]'s parse stage: `rows` holds every inode as
    * an encoded [[FsInode]], parsed straight from its range, with `path`
    * "" and `depth` 0 still pending; `edges` holds the INODE_DIR
    * (id, parent) pairs that resolve them. Both are lazy, and the
    * INODE_DIR ranges are scanned on the driver only when `edges` is
    * first read, so a caller that needs no path pays for none. */
  private[graft] final class Parsed(val rows: DataFrame, edgeRows: => DataFrame) {
    lazy val edges: DataFrame = edgeRows
  }

  /** Scale-path loader — see the object scaladoc for the design. Driver
    * memory is O(string table + scan buffer + range list), never
    * O(section), O(#dirs) or O(#inodes). `parallelism` > 0 replaces the
    * core count in the chunk size. */
  def inodesDistributed(spark: SparkSession, imagePath: String,
                        parallelism: Int = 0,
                        targetChunkBytes: Long = 32L << 20): DataFrame =
    resolvePaths(spark, inodesPending(spark, imagePath, parallelism, targetChunkBytes))

  /** The rows of [[inodesDistributed]] before path resolution: the same
    * parse, with every column but `path` and `depth` final. */
  private[graft] def inodesPending(spark: SparkSession, imagePath: String,
                                   parallelism: Int = 0,
                                   targetChunkBytes: Long = 32L << 20): Parsed = {
    import spark.implicits._
    val sc = spark.sparkContext

    // All driver-side I/O goes through the Hadoop FileSystem API with the
    // session's configuration — the SAME resolution the executors use in
    // readRange, so one path string works whether the image is local or on
    // a DFS (a java.io reader here would break every hdfs:// path).
    val hadoopConf = sc.hadoopConfiguration
    val summary = FsImageFormat.readSummary(imagePath, hadoopConf)
    val secs = summary.sections.map(s => s.name -> s).toMap

    // String table: tiny (distinct users/groups/ACL names) — in-memory.
    val strings = {
      val st = secs.get("STRING_TABLE")
        .map(s => FsImageFormat.maybeDecompress(
          FsImageFormat.readSection(imagePath, s, hadoopConf), summary.codec))
        .getOrElse(Array.emptyByteArray)
      FsImageFormat.parseStringTable(st)
    }

    // Ranged-readable view of the INODE / INODE_DIR sections: the image
    // itself when uncompressed; a streamed-inflated side file per section
    // otherwise (zlib is not splittable — the one-time inflation is
    // sequential O(buffer)-memory I/O, and everything downstream stays
    // ranged + parallel). On a cluster the side file must land on storage
    // the executors share; large production fsimages are typically stored
    // uncompressed anyway.
    def sectionView(name: String): (String, Section) = summary.codec match {
      case None | Some("") =>
        (imagePath, secs.getOrElse(name, Section(name, 0, 0)))
      case codec =>
        secs.get(name) match {
          case None => (imagePath, Section(name, 0, 0))
          case Some(s) =>
            // side file lives NEXT TO THE IMAGE via the same FileSystem —
            // on a DFS that is shared storage the executors can range-read
            val img = new org.apache.hadoop.fs.Path(imagePath)
            val fs = img.getFileSystem(hadoopConf)
            val side = new org.apache.hadoop.fs.Path(
              img.getParent, s".${img.getName}.graft-$name")
            val srcMtime = fs.getFileStatus(img).getModificationTime
            val valid = fs.exists(side) &&
              fs.getFileStatus(side).getModificationTime >= srcMtime
            if (!valid) {
              // inflate to a temp path, then rename into place: a crashed
              // or concurrent inflation must never leave a partial side
              // file that mtime-checks as valid on the next run
              val tmp = new org.apache.hadoop.fs.Path(img.getParent,
                s"${side.getName}.tmp-${java.util.UUID.randomUUID}")
              val out = fs.create(tmp, true)
              val in = FsImageFormat.sectionRawStream(imagePath, s, codec, hadoopConf)
              try {
                val buf = new Array[Byte](1 << 16)
                var n = in.read(buf)
                while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
              } catch {
                case e: Throwable =>
                  try { in.close(); out.close(); fs.delete(tmp, false) } catch { case _: Throwable => () }
                  throw e
              }
              in.close(); out.close()
              fs.delete(side, false) // rename-over-existing is not portable
              if (!fs.rename(tmp, side)) {
                fs.delete(tmp, false)
                // a concurrent loader may have won the rename — accept its file
                if (!fs.exists(side)) throw new java.io.IOException(
                  s"could not move inflated section into place: $side")
              }
            }
            (side.toString, Section(name, fs.getFileStatus(side).getLen, 0L))
        }
    }

    // Driver pre-pass: stream each section once for message-aligned chunk
    // ranges (absolute offsets into the view file), small sections split
    // across the cluster's cores instead of landing in one task.
    def ranges(path: String, sec: Section, dropHeader: Boolean): Array[(Long, Long)] = {
      if (sec.length == 0) return Array.empty
      val split = if (parallelism > 0) parallelism else sc.defaultParallelism
      // clamp: range byte counts travel through Int (readRange buffers) —
      // an unclamped multi-GiB chunk would wrap .toInt and silently drop
      // the tail of each range
      val chunk = Seq(targetChunkBytes, math.max(1L << 16, sec.length / split), 1L << 30).min
      val in = FsImageFormat.sectionRawStream(path, sec, None, hadoopConf)
      try FsImageFormat.scanRanges(in, dropHeader, chunk).map {
        case (from, to) => (sec.offset + from, sec.offset + to)
      } finally in.close()
    }

    // ship the driver's Hadoop conf so executor-side FileSystem resolution
    // keeps credentials / fs impls (a default Configuration would not)
    val hconf = sc.broadcast {
      val it = sc.hadoopConfiguration.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    /** One task per range: read it, parse every whole message in it. */
    def parsed[T: scala.reflect.ClassTag](name: String)(
        parse: (Array[Byte], Int) => Iterator[T]): org.apache.spark.rdd.RDD[T] = {
      val (path, sec) = sectionView(name)
      val rs = ranges(path, sec, dropHeader = name == "INODE")
      sc.parallelize(rs.toSeq, math.max(1, rs.length)).flatMap { case (from, to) =>
        val n = java.lang.Math.toIntExact(to - from)
        parse(FsImageFormat.readRange(path, from, n, hconf.value), n)
      }
    }
    // EC policy table (built-ins + the image's ERASURE_CODING section) and
    // string table: tiny, read once on the driver, broadcast
    val bcPolicies = sc.broadcast(ecPolicies(summary, imagePath, hadoopConf))
    val bcStrings = sc.broadcast(strings)

    new Parsed(
      spark.createDataset(parsed("INODE") { (bytes, n) =>
        FsImageFormat.parseInodeRange(bytes, 0, n, bcPolicies.value)
          .map(toInode(_, "", bcStrings.value, bcPolicies.value))
      }).toDF(),
      spark.createDataset(parsed("INODE_DIR") { (bytes, n) =>
        FsImageFormat.parseDirRange(bytes, 0, n).flatMap(d => d.children.iterator.map(c => (c, d.parent)))
      }).toDF("id", "parent"))
  }

  /** [[inodesDistributed]]'s path stage over `parsed`: steps 1–3 of the
    * object scaladoc. */
  private def resolvePaths(spark: SparkSession, parsed: Parsed): DataFrame = {
    // The parsed rows in a lazy DISK_ONLY checkpoint: the narrow leaf's
    // job parses and stores them, the final join re-reads them from local
    // disk (sequential I/O, far cheaper than a re-parse, and never
    // competing with execution memory at 10⁷–10⁸ inodes).
    val wide = parsed.rows.localCheckpoint(eager = false, StorageLevel.DISK_ONLY)

    // The narrow (id, ftype, name, parent) table, parent root-attached
    // when the image carries no edge for the inode (the driver loader's
    // semantics); measured, so the joins below plan from its real size.
    val narrow = Rounds.eager(wide.select("id", "ftype", "name")
      .join(parsed.edges, Seq("id"), "left_outer")
      .withColumn("parent", coalesce(col("parent"), lit(RootInodeId))), StorageLevel.DISK_ONLY)

    // Directory paths, resolved distributively.
    val dirPaths = dirPathsDistributed(spark, narrow
      .filter(col("ftype") === "D" && col("id") =!= RootInodeId).select("id", "name", "parent"))

    // Every inode's path: its parent dir's path + "/" + name; a parent
    // outside the dir table (no edge, a non-dir parent) reads as root.
    val pp = coalesce(col("pp"), lit("/"))
    val path = when(col("id") === RootInodeId, lit("/"))
      .otherwise(concat(when(pp === "/", lit("")).otherwise(pp), lit("/"), col("name")))
    val paths = Rounds.eager(narrow
      .join(dirPaths.select(col("id").as("parent"), col("path").as("pp")), Seq("parent"), "left_outer")
      .select(col("id"), path.as("path"))
      .withColumn("depth", when(col("path") === "/", 0)
        .otherwise(length(col("path")) - length(translate(col("path"), "/", "")))),
      StorageLevel.DISK_ONLY)

    // One join of the wide rows to (id, path, depth), FsInode's columns.
    wide.drop("path", "depth").join(paths, "id").select(wide.columns.map(col).toIndexedSeq: _*)
  }

  /** Parses the image into namespace rows (driver-side). */
  def loadRows(imagePath: String): Seq[FsInode] = {
    val raf = new RandomAccessFile(imagePath, "r")
    try {
      val summary = FsImageFormat.readSummary(raf)
      val secs = summary.sections.map(s => s.name -> s).toMap
      def sec(name: String): Array[Byte] =
        secs.get(name)
          .map(s => FsImageFormat.maybeDecompress(FsImageFormat.readSection(raf, s), summary.codec))
          .getOrElse(Array.emptyByteArray)

      val strings = FsImageFormat.parseStringTable(sec("STRING_TABLE"))
      val policies = FsImageFormat.EcPoliciesById ++
        FsImageFormat.parseErasureCoding(sec("ERASURE_CODING")).map(p => p.id -> p)
      val raw = FsImageFormat.parseInodes(sec("INODE"), policies).toVector
      val dirEntries = FsImageFormat.parseDirEntries(sec("INODE_DIR")).toVector

      val parentOf = new java.util.HashMap[Long, Long]()
      dirEntries.foreach(e => e.children.foreach(c => parentOf.put(c, e.parent)))
      val byId = raw.map(i => i.id -> i).toMap

      val pathOf = pathResolver(byId,
        id => if (parentOf.containsKey(id)) Some(parentOf.get(id).longValue()) else None)
      raw.map(i => toInode(i, pathOf(i.id), strings, policies))
    } finally raf.close()
  }
}
