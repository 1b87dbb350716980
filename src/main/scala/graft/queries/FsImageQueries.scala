package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.FsImageSource
import graft.sources.fsimage.ImageGen

/** Driver-oracle coverage for the fsimage source (SURVEY §2.1): a
  * deterministic generated image is loaded end-to-end through
  * [[FsImageSource.inodesDistributed]], the loader the CLI and the
  * benchmark run (EC consumed-size formula, ACL decode, symlinks,
  * atime/storage-policy, path resolution all exercised); the loaded rows
  * are exported to parquet once, every query reads that export back, and
  * the DuckDB oracle re-derives the same result from the same files. The
  * specs in FsImageSourceSpec pin the loader to the generator's
  * independently-computed ground truth; these queries additionally run it
  * through the driver's correctness gate. */
object FsImageQueries extends QueryModule {

  /** Absolute paths — the oracle SQL runs in DuckDB outside the JVM, so
    * resolve against the working directory (the repo root under sbt)
    * rather than hardcoding a checkout location. The image file is shared
    * across runs (deterministic content, written atomically below, so the
    * cache survives); the parquet EXPORT dirs are keyed by PID — the
    * oracle reads whatever THIS process exported, and two concurrent
    * Verify/Bench processes no longer race on a shared parquet rewrite
    * (observed as a transient hash mismatch in r4). */
  private val BaseDir =
    new java.io.File("target/fsimage-oracle").getAbsolutePath
  private val Gen = ImageGen.GenSpec(nDirs = 50, nFiles = 5000,
    ecEvery = 4, aclEvery = 7, xattrEvery = 5, nSymlinks = 10,
    withAtime = true, quotaEvery = 6, permVariety = true,
    nSnapshots = 4, nDiffs = 400, ucEvery = 9,
    nCachePools = 3, nCacheDirectives = 40,
    nDelegationKeys = 5, nDelegationTokens = 60)
  // image file keyed by the spec: changing Gen invalidates the cached file
  private val ImagePath = s"$BaseDir/sample-${Gen.hashCode.toHexString}.img"
  private val Pid = ProcessHandle.current().pid()
  private val ExportDir = s"$BaseDir/p$Pid/inodes"
  private val DiffExportDir = s"$BaseDir/p$Pid/diffs"
  private val UcExportDir = s"$BaseDir/p$Pid/uc"
  private val PoolExportDir = s"$BaseDir/p$Pid/pools"
  private val DirectiveExportDir = s"$BaseDir/p$Pid/directives"
  private val KeyExportDir = s"$BaseDir/p$Pid/delegation_keys"
  private val TokenExportDir = s"$BaseDir/p$Pid/delegation_tokens"

  private def ensureImage(): Unit = synchronized {
    val f = new java.io.File(ImagePath)
    if (!f.isFile) {
      f.getParentFile.mkdirs()
      // temp-then-rename: a concurrent process either sees no file (and
      // writes its own temp) or a complete image — never a partial one
      val tmp = new java.io.File(s"$ImagePath.tmp-$Pid")
      ImageGen.write(tmp.getPath, Gen)
      if (!tmp.renameTo(f) && !f.isFile)
        throw new java.io.IOException(s"cannot publish $ImagePath")
      tmp.delete() // no-op if the rename won; drops ours if the race lost
    }
  }

  /** Loads the image and writes the parquet exports the DuckDB oracle
    * reads, once per process (the image is deterministic and the export
    * dirs are this process's own) — any fsimage query may run first, so
    * all go through here. Returns the inode export read back, memoized per
    * session (the Namespace.memo pattern): the queries read the rows the
    * oracle reads, and none re-runs the load's jobs. A second session
    * rewriting the export would pull the files from under the first
    * session's read-back, hence one write per process. */
  private var exported = false
  private val exportMemo = scala.collection.mutable.Map[String, DataFrame]()
  private def ensureExport(spark: SparkSession): DataFrame = synchronized {
    if (!exported) {
      ensureImage()
      FsImageSource.snapshotDiffs(spark, ImagePath)
        .write.mode("overwrite").parquet(DiffExportDir)
      FsImageSource.filesUnderConstruction(spark, ImagePath)
        .write.mode("overwrite").parquet(UcExportDir)
      FsImageSource.cachePools(spark, ImagePath)
        .write.mode("overwrite").parquet(PoolExportDir)
      FsImageSource.cacheDirectives(spark, ImagePath)
        .write.mode("overwrite").parquet(DirectiveExportDir)
      FsImageSource.delegationKeys(spark, ImagePath)
        .write.mode("overwrite").parquet(KeyExportDir)
      FsImageSource.delegationTokens(spark, ImagePath)
        .write.mode("overwrite").parquet(TokenExportDir)
      FsImageSource.inodesDistributed(spark, ImagePath)
        .write.mode("overwrite").parquet(ExportDir)
      exported = true
    }
    exportMemo.getOrElseUpdate(org.apache.spark.sql.graftshim.sessionKey(spark),
      spark.read.parquet(ExportDir))
  }

  /** Whole-image accounting over the parsed inode table: type counts,
    * size/consumed/blocks sums (consumed covers the EC parity formula),
    * ACL + XAttr entry counts, EC file count, distinct owners. */
  def fsimageSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark)
    df.agg(
      sum(when(col("ftype") === "F", 1L).otherwise(0L)).as("n_files"),
      sum(when(col("ftype") === "D", 1L).otherwise(0L)).as("n_dirs"),
      sum(when(col("ftype") === "S", 1L).otherwise(0L)).as("n_symlinks"),
      sum(col("size")).as("sum_size"),
      sum(col("csize")).as("sum_csize"),
      sum(col("blocks")).as("sum_blocks"),
      sum(col("n_acl").cast("long")).as("n_acl_entries"),
      sum(col("n_xattr").cast("long")).as("n_xattr_entries"),
      sum(when(col("ec_policy") =!= "", 1L).otherwise(0L)).as("n_ec_files"),
      countDistinct(col("owner")).as("n_users"))
  }

  val fsimageSummarySql: String = s"""
    SELECT CAST(sum(CASE WHEN ftype='F' THEN 1 ELSE 0 END) AS bigint) AS n_files,
           CAST(sum(CASE WHEN ftype='D' THEN 1 ELSE 0 END) AS bigint) AS n_dirs,
           CAST(sum(CASE WHEN ftype='S' THEN 1 ELSE 0 END) AS bigint) AS n_symlinks,
           CAST(sum(size) AS bigint) AS sum_size,
           CAST(sum(csize) AS bigint) AS sum_csize,
           CAST(sum(blocks) AS bigint) AS sum_blocks,
           CAST(sum(n_acl) AS bigint) AS n_acl_entries,
           CAST(sum(n_xattr) AS bigint) AS n_xattr_entries,
           CAST(sum(CASE WHEN ec_policy <> '' THEN 1 ELSE 0 END) AS bigint) AS n_ec_files,
           CAST(count(DISTINCT owner) AS bigint) AS n_users
    FROM read_parquet('$ExportDir/*.parquet')"""

  /** Quota accounting ([[graft.operators.Reports.quotaReport]]) over the
    * parsed image, driver-oracle-checked: the DuckDB side re-derives each
    * quota dir's subtree usage from the exported inode table with a
    * prefix join — independent logic, same rows. */
  def fsimageQuotas(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark)
    graft.operators.Reports.quotaReport(df)
  }

  val fsimageQuotasSql: String = s"""
    WITH inodes AS (SELECT * FROM read_parquet('$ExportDir/*.parquet')),
    qd AS (
      SELECT path AS dir, ns_quota, ds_quota FROM inodes
      WHERE ftype = 'D' AND (ns_quota >= 0 OR ds_quota >= 0)
    ), usage AS (
      -- starts_with, not LIKE: dir names legally contain '_'/'%' (LIKE
      -- wildcards); the root-dir special case keeps a quota on "/" correct
      SELECT qd.dir,
             count(*) AS n_desc,
             CAST(sum(CASE WHEN i.ftype = 'F' THEN i.csize ELSE 0 END) AS bigint) AS ds_used
      FROM qd JOIN inodes i
        ON starts_with(i.path,
             CASE WHEN qd.dir = '/' THEN '/' ELSE qd.dir || '/' END)
       AND i.path <> '/'
      GROUP BY qd.dir
    )
    SELECT qd.dir, qd.ns_quota, qd.ds_quota,
           CAST(coalesce(u.n_desc, 0) + 1 AS bigint) AS ns_used,
           CAST(coalesce(u.ds_used, 0) AS bigint) AS ds_used,
           CASE WHEN qd.ns_quota >= 0
                THEN qd.ns_quota - coalesce(u.n_desc, 0) - 1 END AS ns_rem,
           CASE WHEN qd.ds_quota >= 0
                THEN qd.ds_quota - coalesce(u.ds_used, 0) END AS ds_rem
    FROM qd LEFT JOIN usage u USING (dir)
    ORDER BY dir"""

  /** Storage-policy / EC-policy breakdown (the HSM accounting view —
    * which bytes sit on which storage tier, reference surfaces the raw
    * `storagePolicyID` per inode, JsonUtil.java:44): per (storage_policy,
    * ec_policy) file count, logical bytes, consumed bytes, and the
    * consumed/logical overhead in basis points (3× for replicated,
    * 1.5× for RS-6-3). One shuffle on a ≤ |policies × ec-policies| key
    * domain with map-side combine. */
  def fsimagePolicies(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark)
    df.filter(col("ftype") === "F")
      .groupBy(col("storage_policy"), col("ec_policy"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size")).as("sum_size"),
        sum(col("csize")).as("sum_csize"))
      .select(col("storage_policy"), col("ec_policy"), col("n_files"),
        col("sum_size"), col("sum_csize"),
        floor(col("sum_csize") * 10000.0 / col("sum_size")).cast("long")
          .as("overhead_bp"))
      .orderBy(col("storage_policy"), col("ec_policy"))
  }

  val fsimagePoliciesSql: String = s"""
    SELECT storage_policy, ec_policy,
           count(*) AS n_files,
           CAST(sum(size) AS bigint) AS sum_size,
           CAST(sum(csize) AS bigint) AS sum_csize,
           CAST(floor(sum(csize) * 10000.0 / sum(size)) AS bigint) AS overhead_bp
    FROM read_parquet('$ExportDir/*.parquet')
    WHERE ftype = 'F'
    GROUP BY storage_policy, ec_policy
    ORDER BY storage_policy, ec_policy"""

  /** Permission audit (the security first pass an admin runs on a new
    * image): per octal mode — file count, bytes, and whether the mode is
    * world-writable (other-write bit of the last octal digit). Tiny
    * key-domain aggregation with map-side combine. */
  def fsimagePermAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark)
    df.filter(col("ftype") === "F")
      .groupBy(col("perm"))
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("sum_size"))
      .withColumn("world_writable",
        (substring(col("perm"), -1, 1).cast("int").bitwiseAND(lit(2)) > 0).cast("int"))
      .orderBy(col("perm"))
  }

  val fsimagePermAuditSql: String = s"""
    SELECT perm, count(*) AS n_files,
           CAST(sum(size) AS bigint) AS sum_size,
           CAST(CASE WHEN (CAST(right(perm, 1) AS int) & 2) > 0
                THEN 1 ELSE 0 END AS int) AS world_writable
    FROM read_parquet('$ExportDir/*.parquet')
    WHERE ftype = 'F'
    GROUP BY perm
    ORDER BY perm"""

  /** Symlink resolution report: every symlink with its target and whether
    * the target path exists in the image (dangling-link detection — the
    * consistency check admins run after mass deletes/migrations). Left
    * join on the target path; the symlink side is tiny, so at scale it
    * broadcasts against the inode table. */
  def fsimageSymlinks(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark)
    val targets = df.select(col("path").as("symlink_target"))
    df.filter(col("ftype") === "S")
      .select(col("path"), col("symlink_target"))
      .join(targets.withColumn("resolved", lit(1)).distinct(),
        Seq("symlink_target"), "left")
      .select(col("path"), col("symlink_target"),
        coalesce(col("resolved"), lit(0)).as("resolved"))
      .orderBy(col("path"))
  }

  val fsimageSymlinksSql: String = s"""
    WITH inodes AS (SELECT * FROM read_parquet('$ExportDir/*.parquet'))
    SELECT s.path, s.symlink_target,
           CAST(CASE WHEN t.path IS NOT NULL THEN 1 ELSE 0 END AS int) AS resolved
    FROM (SELECT path, symlink_target FROM inodes WHERE ftype = 'S') s
    LEFT JOIN (SELECT DISTINCT path FROM inodes) t
      ON s.symlink_target = t.path
    ORDER BY s.path"""

  /** Snapshot churn: per (diff kind, snapshot) — diff count, recorded
    * file bytes, created/deleted child totals over the SNAPSHOT_DIFF
    * rows. The "what changed between snapshots" accounting an admin
    * reads before deleting old snapshots. Tiny key-domain aggregation. */
  def fsimageDiffStats(spark: SparkSession, sfDir: String): DataFrame = {
    ensureExport(spark)
    FsImageSource.snapshotDiffs(spark, ImagePath)
      .groupBy(col("diff_type"), col("snapshot_id"))
      .agg(count(lit(1)).as("n_diffs"),
        sum(col("file_size")).as("sum_file_size"),
        sum(col("n_created").cast("long")).as("n_created"),
        sum(col("n_deleted").cast("long")).as("n_deleted"))
      .orderBy(col("diff_type"), col("snapshot_id"))
  }

  val fsimageDiffStatsSql: String = s"""
    SELECT diff_type, snapshot_id, count(*) AS n_diffs,
           CAST(sum(file_size) AS bigint) AS sum_file_size,
           CAST(sum(n_created) AS bigint) AS n_created,
           CAST(sum(n_deleted) AS bigint) AS n_deleted
    FROM read_parquet('$DiffExportDir/*.parquet')
    GROUP BY diff_type, snapshot_id
    ORDER BY diff_type, snapshot_id"""

  /** Cold-data report (the storage-tiering decision input): files banded
    * by idle time — days since last access, measured against the image's
    * newest atime so the bands are a property of the image, not of when
    * the report runs — per (band, storage policy): count, bytes, consumed
    * bytes. The bytes an admin would demote to ARCHIVE/COLD per tier.
    * Tiny key-domain aggregation; the max-atime scalar broadcasts. */
  def fsimageCold(spark: SparkSession, sfDir: String): DataFrame = {
    val df = ensureExport(spark).filter(col("ftype") === "F")
    val maxAtime = df.agg(max(col("atime_sec")).as("max_atime"))
    val idleDays = (col("max_atime") - col("atime_sec")) / lit(86400L)
    val band = when(idleDays < 30, "0_hot_lt30d")
      .when(idleDays < 90, "1_warm_lt90d")
      .when(idleDays < 365, "2_cool_lt1y")
      .otherwise("3_cold_ge1y")
    df.crossJoin(broadcast(maxAtime))
      .groupBy(band.as("idle_band"), col("storage_policy"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size")).as("sum_size"),
        sum(col("csize")).as("sum_csize"))
      .orderBy(col("idle_band"), col("storage_policy"))
  }

  val fsimageColdSql: String = s"""
    SELECT CASE WHEN idle_days < 30 THEN '0_hot_lt30d'
                WHEN idle_days < 90 THEN '1_warm_lt90d'
                WHEN idle_days < 365 THEN '2_cool_lt1y'
                ELSE '3_cold_ge1y' END AS idle_band,
           storage_policy,
           count(*) AS n_files,
           CAST(sum(size) AS bigint) AS sum_size,
           CAST(sum(csize) AS bigint) AS sum_csize
    FROM (
      SELECT storage_policy, size, csize,
             ((SELECT max(atime_sec) FROM read_parquet('$ExportDir/*.parquet')
               WHERE ftype = 'F') - atime_sec) / 86400.0 AS idle_days
      FROM read_parquet('$ExportDir/*.parquet')
      WHERE ftype = 'F'
    )
    GROUP BY 1, storage_policy
    ORDER BY idle_band, storage_policy"""

  /** Open-files report ([[graft.operators.Reports.openFiles]]) over the
    * parsed image, driver-oracle-checked: the DuckDB side independently
    * re-joins the exported FILES_UNDERCONSTRUCTION rows with the exported
    * inode table (restricted to the per-inode under_construction flag —
    * so the oracle also cross-checks that the SECTION entries and the
    * INodeFile FEATURE agree) and re-derives the same per-file rows. */
  def fsimageOpenFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val inodes = ensureExport(spark)
    val uc = spark.read.parquet(UcExportDir)
    graft.operators.Reports.openFiles(inodes, uc)
  }

  val fsimageOpenFilesSql: String = s"""
    SELECT u.full_path AS path, u.inode_id, i.owner, i.grp,
           i.uc_client, i.uc_machine,
           CAST(i.size AS bigint) AS size, CAST(i.blocks AS bigint) AS blocks,
           CAST(i.mtime_sec AS bigint) AS mtime_sec
    FROM read_parquet('$UcExportDir/*.parquet') u
    JOIN read_parquet('$ExportDir/*.parquet') i
      ON u.inode_id = i.id AND i.under_construction
    ORDER BY path"""

  /** Cache accounting ([[graft.operators.Reports.cacheReport]]) over the
    * parsed image, driver-oracle-checked: DuckDB independently re-joins
    * the exported CACHE_MANAGER directives/pools with the exported inode
    * table (file-path AND direct-children matches, cacheadmin's
    * non-recursive semantics) and re-derives the same per-directive
    * bytes_needed / bytes_cached_max / n_files rows (semantics:
    * [[graft.operators.Reports.cacheReport]]). */
  def fsimageCache(spark: SparkSession, sfDir: String): DataFrame = {
    val inodes = ensureExport(spark)
    graft.operators.Reports.cacheReport(inodes,
      spark.read.parquet(DirectiveExportDir),
      spark.read.parquet(PoolExportDir))
  }

  val fsimageCacheSql: String = s"""
    WITH f AS (
      SELECT path AS fpath,
             substr(path, 1, greatest(length(path) - length(name) - 1, 1)) AS fparent,
             size
      FROM read_parquet('$ExportDir/*.parquet') WHERE ftype = 'F'
    ), d AS (SELECT * FROM read_parquet('$DirectiveExportDir/*.parquet')),
    direct AS (
      SELECT directive_id, CAST(sum(size) AS bigint) AS fsz
      FROM d LEFT JOIN f ON d.path = f.fpath GROUP BY directive_id
    ), dirch AS (
      SELECT directive_id, CAST(sum(size) AS bigint) AS dsz,
             count(f.fpath) AS n_dir_files
      FROM d LEFT JOIN f ON d.path = f.fparent GROUP BY directive_id
    )
    SELECT d.directive_id, d.path, d.pool, p.owner, d.cache_replication,
           CAST((coalesce(fsz, 0) + coalesce(dsz, 0)) * d.cache_replication AS bigint) AS bytes_needed,
           CAST((coalesce(fsz, 0) + coalesce(dsz, 0)) * d.cache_replication AS bigint) AS bytes_cached_max,
           CAST(coalesce(n_dir_files, 0)
                + CASE WHEN fsz IS NOT NULL THEN 1 ELSE 0 END AS bigint) AS n_files,
           p."limit" AS pool_limit, d.expiry_ms, d.expiry_relative
    FROM d
    LEFT JOIN direct USING (directive_id)
    LEFT JOIN dirch USING (directive_id)
    LEFT JOIN read_parquet('$PoolExportDir/*.parquet') p USING (pool)
    ORDER BY directive_id"""

  /** Delegation-token audit ([[graft.operators.Reports.secretReport]])
    * over the parsed SECRET_MANAGER section, driver-oracle-checked:
    * DuckDB independently re-joins the exported token and key tables and
    * re-derives the outlives-key / missing-key flags. */
  def fsimageSecrets(spark: SparkSession, sfDir: String): DataFrame = {
    ensureExport(spark)
    graft.operators.Reports.secretReport(
      spark.read.parquet(TokenExportDir),
      spark.read.parquet(KeyExportDir))
  }

  val fsimageSecretsSql: String = s"""
    SELECT t.seq, t.owner, t.renewer, t.real_user, t.issue_ms, t.max_ms,
           t.expiry_ms, t.master_key_id,
           CAST(coalesce(k.key_expiry_ms, -1) AS bigint) AS key_expiry_ms,
           (k.key_expiry_ms IS NOT NULL AND t.expiry_ms > k.key_expiry_ms)
             AS outlives_key,
           (k.key_expiry_ms IS NULL) AS key_missing
    FROM read_parquet('$TokenExportDir/*.parquet') t
    LEFT JOIN read_parquet('$KeyExportDir/*.parquet') k
      ON t.master_key_id = k.key_id
    ORDER BY seq"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fsimage_secrets"    -> (fsimageSecrets _),
    "q_fsimage_cache"      -> (fsimageCache _),
    "q_fsimage_open_files" -> (fsimageOpenFiles _),
    "q_fsimage_cold"       -> (fsimageCold _),
    "q_fsimage_diff_stats" -> (fsimageDiffStats _),
    "q_fsimage_symlinks"   -> (fsimageSymlinks _),
    "q_fsimage_summary"    -> (fsimageSummary _),
    "q_fsimage_quotas"     -> (fsimageQuotas _),
    "q_fsimage_policies"   -> (fsimagePolicies _),
    "q_fsimage_perm_audit" -> (fsimagePermAudit _))

  val oracles: Map[String, String] = Map(
    "q_fsimage_secrets"    -> fsimageSecretsSql,
    "q_fsimage_cache"      -> fsimageCacheSql,
    "q_fsimage_open_files" -> fsimageOpenFilesSql,
    "q_fsimage_cold"       -> fsimageColdSql,
    "q_fsimage_diff_stats" -> fsimageDiffStatsSql,
    "q_fsimage_symlinks"   -> fsimageSymlinksSql,
    "q_fsimage_summary"    -> fsimageSummarySql,
    "q_fsimage_quotas"     -> fsimageQuotasSql,
    "q_fsimage_policies"   -> fsimagePoliciesSql,
    "q_fsimage_perm_audit" -> fsimagePermAuditSql)
}
