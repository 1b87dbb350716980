package graft.sources

import graft.SparkSpecBase
import graft.operators.Reports
import org.apache.spark.sql.functions._

/** Validates the from-scratch fsimage parser against the reference's
  * documented test image content (reference lib/.../core/
  * FsImageLoaderTest.java:27-62 + loadAndVisit expectations:
  * 16 files, 14 dirs, Σ size 356417536, 3 users, 3 groups). */
class FsImageSourceSpec extends SparkSpecBase {

  private val H3 = "/root/reference/lib/src/test/resources/fsi_small_h3_2.img"
  private val H2 = "/root/reference/lib/src/test/resources/fsi_small_h2x.img"

  private def haveImages = new java.io.File(H3).isFile

  for ((label, img) <- Seq("hadoop3" -> H3, "hadoop2" -> H2)) {
    test(s"$label image: counts, sizes, owners match the documented content") {
      assume(haveImages)
      val df = FsImageSource.inodes(spark, img).cache()

      val byType = df.groupBy("ftype").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType("F") == 16, s"files: $byType")
      assert(byType("D") == 14, s"dirs: $byType")
      assert(byType.getOrElse("S", 0L) == 0)

      assert(df.agg(sum(when(col("ftype") === "F", col("size")))).head.getLong(0) == 356417536L)

      val users = df.select("owner").distinct().collect().map(_.getString(0)).toSet
      assert(users == Set("mm", "root", "foo"))
      val groups = df.select("grp").distinct().collect().map(_.getString(0)).toSet
      assert(groups == Set("supergroup", "root", "nobody"))

      // spot-check paths + replication (FsImageLoaderTest.java:220-231)
      def one(path: String) = df.filter(col("path") === path).collect()
      assert(one("/test3/foo/bar/test_40MiB.img").head.getAs[Int]("repl") == 1)
      assert(one("/test3/foo/bar/test_80MiB.img").head.getAs[Int]("repl") == 3)
      assert(one("/test3/foo/bar/test_4MiB.img").head.getAs[Int]("repl") == 5)
      assert(one("/datalake/asset2/test_1KiB.img").head.getAs[Long]("size") == 1024L)
      assert(one("/test3/foo/test_1KiB.img").head.getAs[String]("owner") == "root")
      assert(one("/test3/test_160MiB.img").head.getAs[String]("owner") == "foo")
      assert(one("/test3/test_160MiB.img").head.getAs[String]("grp") == "nobody")
      assert(one("/").head.getAs[String]("perm") == "0755")
      assert(one("/test_2KiB.img").head.getAs[String]("perm") == "0644")
      df.unpersist()
    }
  }

  test("compressed (DefaultCodec) 210k-file image loads and reports run") {
    assume(haveImages)
    val img = "/root/reference/lib/src/test/resources/fsimage_d800_f210k_compressed.img"
    val t0 = System.nanoTime()
    val df = FsImageSource.inodes(spark, img).cache()
    val byType = df.groupBy("ftype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    info(f"parse+load took ${(System.nanoTime() - t0) / 1e9}%.2fs: $byType")
    // generator ground truth (fsimage-generator/README.md): 806 dirs, 209560 files
    assert(byType("F") == 209560)
    assert(byType("D") == 807) // 806 + root
    // every file got a real path under a parent dir
    assert(df.filter(col("ftype") === "F" && !col("path").startsWith("/")).count() == 0)
    val summary = Reports.summaryOverall(df).head
    assert(summary.getAs[Long]("n_files") == 209560)
    df.unpersist()
  }

  test("distributed ranged parse agrees with the driver loader exactly") {
    assume(haveImages)
    val img = "/root/reference/lib/src/test/resources/fsimage_d800_f210k_compressed.img"
    val a = FsImageSource.inodes(spark, img)
    val b = FsImageSource.inodesDistributed(spark, img, parallelism = 7)
    assert(b.count() == a.count())
    // symmetric difference on the full row set must be empty
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("synthetic 1M-inode image: ranged distributed parse, counts, reports") {
    val dir = java.nio.file.Files.createTempDirectory("graft_img").toFile
    val img = new java.io.File(dir, "big.img").getPath
    val nDirs = 4000
    val nFiles = 1000000
    val expectedSum = graft.sources.fsimage.ImageGen.write(img, nDirs, nFiles)

    val t0 = System.nanoTime()
    val driver = FsImageSource.inodes(spark, img)
    val nD = driver.count()
    val tDriver = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    // small target chunk so the ranged path genuinely runs multi-split
    val dist = FsImageSource.inodesDistributed(spark, img, targetChunkBytes = 4L << 20).cache()
    val nX = dist.count()
    val tDist = (System.nanoTime() - t1) / 1e9
    info(f"1M inodes: driver=$tDriver%.2fs distributed=$tDist%.2fs")
    assert(nD == 1 + nDirs + nFiles)
    assert(nX == nD)

    assert(dist.agg(sum(when(col("ftype") === "F", col("size")))).head.getLong(0) == expectedSum)
    val summary = graft.operators.Reports.summaryByUser(dist).collect()
    assert(summary.length == 20)
    assert(summary.map(_.getAs[Long]("n_files")).sum == nFiles)
    dist.unpersist()
    new java.io.File(img).delete()
  }

  test("EC consumed size matches the reference formula byte-exactly") {
    import graft.sources.fsimage.{FsImageFormat, ImageGen}
    val dir = java.nio.file.Files.createTempDirectory("graft_ec").toFile
    val img = new java.io.File(dir, "ec.img").getPath
    // every 3rd file RS-6-3-1024k; sizes span 1 KiB .. ~3000 KiB so some
    // blocks need >1 cell and exercise the rows term
    val gen = graft.sources.fsimage.ImageGen.write(img,
      ImageGen.GenSpec(nDirs = 5, nFiles = 2000, ecEvery = 3))
    assert(gen.nEcFiles == 667)

    val df = FsImageSource.inodes(spark, img).cache()
    // total consumed must equal the generator's independently computed sum
    assert(df.agg(sum(when(col("ftype") === "F", col("csize")))).head.getLong(0) == gen.sumConsumed)
    // EC files: repl=0 but csize > size (parity overhead), policy surfaced
    val ecRows = df.filter(col("ec_policy") === "RS-6-3-1024k")
    assert(ecRows.count() == 667)
    assert(ecRows.filter(col("repl") =!= 0).count() == 0)
    assert(ecRows.filter(col("csize") <= col("size")).count() == 0)
    // spot-check one: f_0.dat size 1024 → 1 cell → 1 row → 1024 + 3·1 MiB
    val f0 = df.filter(col("name") === "f_0.dat").head
    assert(f0.getAs[Long]("csize") == 1024L + 3L * (1L << 20))
    // formula unit check vs FsUtil.java:126-130 for a multi-row block
    val p = FsImageFormat.EcPoliciesById(1)
    val b = 7L * (1L << 20) // 7 cells over 6 data units → 2 rows
    assert(FsImageFormat.ecBlockConsumed(b, p) == b + 2L * 3 * (1L << 20))
    // distributed loader agrees
    val dist = FsImageSource.inodesDistributed(spark, img, parallelism = 5)
    assert(dist.exceptAll(df).count() == 0 && df.exceptAll(dist).count() == 0)
    df.unpersist()
    new java.io.File(img).delete()
  }

  test("deep directory chains resolve identically in both loaders") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_chain").toFile
    val img = new java.io.File(dir, "chain.img").getPath
    // dirs 0-3 nest root→dir_0→dir_1→dir_2→dir_3; dirs 4-5 under root;
    // quota dirs 0/2/4 — nested quotas must roll inner usage outward
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 6, nFiles = 60,
      chainDirs = 4, quotaEvery = 2))
    val df = FsImageSource.inodes(spark, img).cache()
    assert(df.filter(col("path") === "/dir_0/dir_1/dir_2/dir_3").count() == 1)
    assert(df.filter(col("path") === "/dir_4").count() == 1)
    // files round-robin: i%6==3 → under the chain tail at depth 5
    assert(df.filter(col("path") === "/dir_0/dir_1/dir_2/dir_3/f_3.dat").count() == 1)
    val dist = FsImageSource.inodesDistributed(spark, img, parallelism = 3)
    assert(dist.exceptAll(df).count() == 0 && df.exceptAll(dist).count() == 0)
    // nested quota rollup: dir_0's namespace usage counts the whole chain
    // below it (dirs 1-3 + their files), not just direct children
    val q = graft.operators.Reports.quotaReport(df).collect()
    assert(q.map(_.getAs[String]("dir")).toSeq ==
           Seq("/dir_0", "/dir_0/dir_1/dir_2", "/dir_4"))
    val q0 = q.head
    // dir_0 subtree: dirs 1,2,3 + files with i%6 ∈ {0,1,2,3} (40 of 60)
    assert(q0.getAs[Long]("ns_used") == 1 + 3 + 40)
    df.unpersist()
    new java.io.File(img).delete()
  }

  test("ACL entries decode (named user, default scope) on files and dirs") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_acl").toFile
    val img = new java.io.File(dir, "acl.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 4, nFiles = 100, aclEvery = 10))

    val df = FsImageSource.inodes(spark, img).cache()
    val withAcl = df.filter(col("n_acl") > 0)
    assert(withAcl.filter(col("ftype") === "F").count() == 10)
    assert(withAcl.filter(col("ftype") === "D").count() == 1) // dir_0
    val f0 = df.filter(col("name") === "f_0.dat").head
    assert(f0.getAs[scala.collection.Seq[String]]("acl").toSeq ==
      Seq(s"user:${ImageGen.AclUserName}:rwx", "default:group::r-x"))
    // inodes without the feature stay empty
    assert(df.filter(col("n_acl") === 0 && size(col("acl")) =!= 0).count() == 0)

    // getAclStatus equivalent: owner/group/perm/sticky + entries by path
    val st = Reports.aclStatus(df, Seq("/dir_0", "/dir_0/f_0.dat")).collect()
    assert(st.map(_.getAs[String]("path")).toSeq == Seq("/dir_0", "/dir_0/f_0.dat"))
    assert(st.forall(_.getAs[Int]("n_acl") == 2))
    assert(st.forall(!_.getAs[Boolean]("sticky")))
    df.unpersist()
    new java.io.File(img).delete()
  }

  test("XAttr entries decode (user + raw namespaces) on files and dirs") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_xattr").toFile
    val img = new java.io.File(dir, "xattr.img").getPath
    val gen = ImageGen.write(img, ImageGen.GenSpec(nDirs = 4, nFiles = 100, xattrEvery = 10))
    assert(gen.nXattrFiles == 10)

    val df = FsImageSource.inodes(spark, img).cache()
    val withX = df.filter(col("n_xattr") > 0)
    assert(withX.filter(col("ftype") === "F").count() == 10)
    assert(withX.filter(col("ftype") === "D").count() == 1) // dir_0
    // f_0: user.policy carries "v0" (hex 7630); raw.origin exercises the
    // namespace extension bit and an absent value
    val f0 = df.filter(col("name") === "f_0.dat").head
    assert(f0.getAs[scala.collection.Seq[String]]("xattrs").toSeq ==
      Seq("user.policy=7630", "raw.origin="))
    val f20 = df.filter(col("name") === "f_20.dat").head
    assert(f20.getAs[scala.collection.Seq[String]]("xattrs").head == "user.policy=763230") // "v20"
    // inodes without the feature stay empty
    assert(df.filter(col("n_xattr") === 0 && size(col("xattrs")) =!= 0).count() == 0)

    // getfattr equivalent by path
    val st = Reports.xattrStatus(df, Seq("/dir_0", "/dir_0/f_0.dat")).collect()
    assert(st.map(_.getAs[String]("path")).toSeq == Seq("/dir_0", "/dir_0/f_0.dat"))
    assert(st.forall(_.getAs[Int]("n_xattr") == 2))

    // distributed loader carries the new columns identically
    val dist = FsImageSource.inodesDistributed(spark, img, parallelism = 3)
    assert(dist.exceptAll(df).count() == 0 && df.exceptAll(dist).count() == 0)
    df.unpersist()
    new java.io.File(img).delete()
  }

  test("symlink target, atime and storage policy are surfaced") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_sym").toFile
    val img = new java.io.File(dir, "sym.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 3, nFiles = 30,
      nSymlinks = 5, withAtime = true))

    val df = FsImageSource.inodes(spark, img).cache()
    val links = df.filter(col("ftype") === "S").collect()
    assert(links.length == 5)
    val l0 = links.find(_.getAs[String]("name") == "link_0").get
    assert(l0.getAs[String]("symlink_target") == "/dir_0/f_0.dat")
    assert(l0.getAs[String]("path") == "/link_0")
    assert(l0.getAs[Long]("atime_sec") == 1710000000L)
    val f1 = df.filter(col("name") === "f_1.dat").head
    assert(f1.getAs[Long]("atime_sec") == 1710000001L) // +1s for f_1
    assert(f1.getAs[Int]("storage_policy") == 6) // 5 + 1%2
    // non-symlinks carry an empty target
    assert(df.filter(col("ftype") =!= "S" && col("symlink_target") =!= "").count() == 0)
    df.unpersist()
    new java.io.File(img).delete()
  }

  test("section inventory and SNAPSHOT section parse") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    val img = new java.io.File(dir, "snap.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 3, nFiles = 20, nSnapshots = 3))

    val secs = FsImageSource.sections(spark, img).collect()
    assert(secs.map(_.getAs[String]("name")).toSeq ==
      Seq("INODE", "INODE_DIR", "STRING_TABLE", "SNAPSHOT"))
    assert(secs.forall(_.getAs[Long]("length") > 0))
    // offsets are contiguous from the 8-byte magic
    assert(secs.head.getAs[Long]("offset") == 8L)

    val snaps = FsImageSource.snapshots(spark, img).collect()
    assert(snaps.map(r => (r.getAs[Int]("snapshot_id"), r.getAs[String]("name"))).toSeq ==
      (0 until 3).map(i => (i, s"snap_$i")))
    // every snapshot root points at dir_0's inode — resolvable via the
    // inode table (the documented join)
    val dir0 = FsImageSource.inodes(spark, img)
      .filter(col("name") === "dir_0").head.getAs[Long]("id")
    assert(snaps.forall(_.getAs[Long]("root_id") == dir0))

    // an image without the section yields an empty frame, same schema
    val img2 = new java.io.File(dir, "nosnap.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    val none = FsImageSource.snapshots(spark, img2)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("snapshot_id", "name", "root_id"))
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("SNAPSHOT_DIFF entries parse with their created/deleted streams") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_diff").toFile
    val img = new java.io.File(dir, "diff.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 3, nFiles = 20,
      nSnapshots = 2, nDiffs = 6))
    val d = FsImageSource.snapshotDiffs(spark, img).collect()
    assert(d.length == 6)
    val files = d.filter(_.getAs[String]("diff_type") == "F")
    val dirs = d.filter(_.getAs[String]("diff_type") == "D")
    assert(files.length == 3 && dirs.length == 3)
    // file diffs carry the per-snapshot length; i=0,2,4 → 512·(i+1)
    assert(files.map(_.getAs[Long]("file_size")).sorted.toSeq ==
           Seq(512L, 1536L, 2560L))
    // dir diffs: the created-list stream is consumed (2 entries each),
    // deleted inode ids counted from the packed field
    assert(dirs.forall(r => r.getAs[Int]("n_created") == 2 &&
                            r.getAs[Int]("n_deleted") == 2))
    assert(dirs.map(_.getAs[String]("name")).toSet ==
           Set("dir_0", "dir_1", "dir_2")) // i = 1,3,5 → i%3 = 1,0,2
    // no-section image → empty frame, same schema
    val img2 = new java.io.File(dir, "nodiff.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    assert(FsImageSource.snapshotDiffs(spark, img2).count() == 0)
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("FILES_UNDERCONSTRUCTION decodes; open-files report joins section+feature") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_uc").toFile
    val img = new java.io.File(dir, "uc.img").getPath
    val s = ImageGen.write(img, ImageGen.GenSpec(nDirs = 4, nFiles = 30, ucEvery = 7))
    assert(s.nUcFiles == 5) // files 0,7,14,21,28

    val uc = FsImageSource.filesUnderConstruction(spark, img).collect()
    assert(uc.length == 5)
    val inodes = FsImageSource.inodes(spark, img).cache()
    // section fullPath must agree with the tree-resolved inode path, and
    // the per-inode feature must mark exactly the section's inodes
    val resolved = inodes.select(col("id"), col("path"), col("under_construction"),
      col("uc_client"), col("uc_machine")).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    uc.foreach { r =>
      val id = r.getAs[Long]("inode_id")
      assert(resolved(id).getAs[String]("path") === r.getAs[String]("full_path"))
      assert(resolved(id).getAs[Boolean]("under_construction"))
    }
    assert(inodes.filter(col("under_construction")).count() === 5)
    // lease client/machine decode (generator's deterministic values)
    val f7 = inodes.filter(col("name") === "f_7.dat").head
    assert(f7.getAs[String]("uc_client") === "DFSClient_NONMAPREDUCE_1000007_1")
    assert(f7.getAs[String]("uc_machine") === "worker-7.example.com")
    // non-UC files carry the empty defaults
    val f1 = inodes.filter(col("name") === "f_1.dat").head
    assert(!f1.getAs[Boolean]("under_construction") && f1.getAs[String]("uc_client") === "")

    // the report: one row per open file, ordered by path, with owner+lease
    val rep = Reports.openFiles(inodes,
      FsImageSource.filesUnderConstruction(spark, img)).collect()
    assert(rep.length == 5)
    assert(rep.map(_.getAs[String]("path")).toSeq === rep.map(_.getAs[String]("path")).toSeq.sorted)
    assert(rep.forall(_.getAs[String]("uc_client").startsWith("DFSClient_NONMAPREDUCE_")))

    // distributed loader surfaces the same three UC columns
    val dist = FsImageSource.inodesDistributed(spark, img)
      .filter(col("under_construction"))
      .select(col("id"), col("uc_client")).collect()
    assert(dist.length == 5 && dist.forall(_.getAs[String]("uc_client").nonEmpty))

    // empty case: no section → empty frame with the documented schema,
    // no inode flagged
    val img2 = new java.io.File(dir, "nouc.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    val none = FsImageSource.filesUnderConstruction(spark, img2)
    assert(none.count() == 0 && none.columns.toSeq == Seq("inode_id", "full_path"))
    assert(FsImageSource.inodes(spark, img2).filter(col("under_construction")).count() === 0)
    assert(Reports.openFiles(FsImageSource.inodes(spark, img2), none).count() === 0)
    inodes.unpersist()
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("ERASURE_CODING section: custom policy resolves name + parity-true consumed size in both loaders") {
    import graft.sources.fsimage.{FsImageFormat, ImageGen}
    val dir = java.nio.file.Files.createTempDirectory("graft_ec").toFile
    val img = new java.io.File(dir, "ec.img").getPath
    val s = ImageGen.write(img, ImageGen.GenSpec(nDirs = 3, nFiles = 30,
      ecEvery = 4, ecCustom = true))

    val inodes = FsImageSource.inodes(spark, img).cache()
    val ecRows = inodes.filter(col("ec_policy") =!= "").collect()
    assert(ecRows.length == s.nEcFiles && s.nEcFiles == 8)
    // name DERIVED from codec+schema+cell (the section omits it)
    assert(ecRows.forall(_.getAs[String]("ec_policy") == "RS-4-2-256k"))
    // consumed = the RS-4-2/256k parity formula, byte-exact against the
    // generator's independent accounting — NOT the unknown-policy
    // data-bytes fallback and NOT the built-in RS-6-3-1024k math
    assert(inodes.agg(org.apache.spark.sql.functions.sum("csize"))
      .collect()(0).getLong(0) == s.sumConsumed)
    val custom = FsImageFormat.EcPolicy(64, "RS-4-2-256k", 4, 2, 256L << 10)
    ecRows.foreach { r =>
      assert(r.getAs[Long]("csize") ==
        FsImageFormat.ecBlockConsumed(r.getAs[Long]("size"), custom), r.toString)
    }
    // the distributed loader broadcasts the same policy table
    val dist = FsImageSource.inodesDistributed(spark, img)
      .filter(col("ec_policy") =!= "")
      .agg(org.apache.spark.sql.functions.sum("csize"),
        org.apache.spark.sql.functions.count("*")).collect()(0)
    assert(dist.getLong(1) == s.nEcFiles)
    assert(dist.getLong(0) == ecRows.map(_.getAs[Long]("csize")).sum)
    // without the section, built-in ids keep resolving from the static table
    val img2 = new java.io.File(dir, "builtin_ec.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 8, ecEvery = 4))
    val builtin = FsImageSource.inodes(spark, img2)
      .filter(col("ec_policy") =!= "").collect()
    assert(builtin.length == 2 &&
      builtin.forall(_.getAs[String]("ec_policy") == "RS-6-3-1024k"))
    inodes.unpersist()
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("SECRET_MANAGER decodes keys+tokens; secret report flags outliving and orphaned tokens") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_secret").toFile
    val img = new java.io.File(dir, "secret.img").getPath
    val (nKeys, nTokens) = (3, 10)
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 2, nFiles = 8,
      nDelegationKeys = nKeys, nDelegationTokens = nTokens))

    // keys: staggered expiry per the generator's published formula; key
    // MATERIAL never surfaces — only its length ("k" × (8 + i % 4))
    val keys = FsImageSource.delegationKeys(spark, img).collect()
    assert(keys.length == nKeys)
    keys.foreach { k =>
      val id = k.getAs[Int]("key_id")
      assert(k.getAs[Long]("key_expiry_ms") == ImageGen.secretKeyExpiry(id))
      assert(k.getAs[Int]("key_len") == 8 + (id - 1) % 4)
    }
    assert(keys.toSeq.toString.indexOf("kkkkkkkk") < 0) // no material column

    // tokens: field-for-field generator ground truth
    val toks = FsImageSource.delegationTokens(spark, img).collect()
    assert(toks.length == nTokens)
    toks.foreach { t =>
      val i = t.getAs[Int]("seq") - 1
      assert(t.getAs[String]("owner") == s"user${1 + i % 20}")
      assert(t.getAs[String]("renewer") == "yarn")
      assert(t.getAs[String]("real_user") == (if (i % 4 == 0) s"proxy${i % 3}" else ""))
      assert(t.getAs[Int]("master_key_id") == 1 + i % (nKeys + 1))
      assert(t.getAs[Long]("expiry_ms") == ImageGen.secretTokenExpiry(i, nKeys))
    }

    // audit report: odd tokens outlive their key (+1 h), even ones don't
    // (−1 s); tokens pointing at key nKeys+1 are the missing-key rows
    val rep = Reports.secretReport(
      FsImageSource.delegationTokens(spark, img),
      FsImageSource.delegationKeys(spark, img)).collect()
    assert(rep.length == nTokens)
    rep.foreach { r =>
      val i = r.getAs[Int]("seq") - 1
      val missing = i % (nKeys + 1) == nKeys
      assert(r.getAs[Boolean]("key_missing") == missing, r.toString)
      assert(r.getAs[Boolean]("outlives_key") == (!missing && i % 2 == 1), r.toString)
      assert(r.getAs[Long]("key_expiry_ms") ==
        (if (missing) -1L else ImageGen.secretKeyExpiry(1 + i % (nKeys + 1))))
    }
    assert(rep.count(_.getAs[Boolean]("key_missing")) > 0)
    assert(rep.count(_.getAs[Boolean]("outlives_key")) > 0)

    // sections inventory names it; Tool command runs end-to-end
    assert(FsImageSource.sections(spark, img).collect()
      .exists(_.getAs[String]("name") == "SECRET_MANAGER"))
    assert(graft.Tool.run(spark, "secrets", img, Map.empty, Set.empty)
      .count() == nTokens)

    // empty case: no section → empty frames, report yields no rows
    val img2 = new java.io.File(dir, "nosecret.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    assert(FsImageSource.delegationKeys(spark, img2).count() == 0)
    assert(FsImageSource.delegationTokens(spark, img2).count() == 0)
    assert(Reports.secretReport(
      FsImageSource.delegationTokens(spark, img2),
      FsImageSource.delegationKeys(spark, img2)).count() == 0)
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("CACHE_MANAGER decodes pools+directives; cache report resolves cached bytes") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toFile
    val img = new java.io.File(dir, "cache.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 3, nFiles = 12,
      nCachePools = 2, nCacheDirectives = 5))

    val pools = FsImageSource.cachePools(spark, img).collect()
    assert(pools.length == 2)
    val p0 = pools.find(_.getAs[String]("pool") == "pool_0").get
    assert(p0.getAs[String]("owner") == "user1" && p0.getAs[String]("mode") == "0755")
    assert(p0.getAs[Long]("limit") == (1L << 30))
    assert(p0.getAs[Int]("default_replication") == 1)
    assert(pools.find(_.getAs[String]("pool") == "pool_1").get
      .getAs[Int]("default_replication") == 2)

    val dirs = FsImageSource.cacheDirectives(spark, img).collect()
    assert(dirs.length == 5)
    assert(dirs.map(_.getAs[Long]("directive_id")).sorted.toSeq == (1L to 5L))
    // directives round-robin pools and point at real tree paths
    assert(dirs.forall(_.getAs[String]("path").startsWith("/dir_")))
    assert(dirs.map(_.getAs[String]("pool")).toSet == Set("pool_0", "pool_1"))
    // expiry shapes: d%3==0 → never (0); d%3==2 → relative
    val byId = dirs.map(r => r.getAs[Long]("directive_id") -> r).toMap
    assert(byId(1L).getAs[Long]("expiry_ms") == 0L) // d=0
    assert(byId(3L).getAs[Boolean]("expiry_relative")) // d=2

    // report: every directive resolves its file (paths are real), so
    // bytes_needed = size × repl (cacheadmin semantics) and
    // bytes_cached_max = the same fully-cached bound
    val inodes = FsImageSource.inodes(spark, img).cache()
    val rep = Reports.cacheReport(inodes,
      FsImageSource.cacheDirectives(spark, img),
      FsImageSource.cachePools(spark, img)).collect()
    assert(rep.length == 5)
    val sizeOf = inodes.filter(col("ftype") === "F").collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("size")).toMap
    rep.foreach { r =>
      val need = r.getAs[Long]("bytes_needed")
      assert(need == sizeOf(r.getAs[String]("path"))
        * r.getAs[Int]("cache_replication"), r.toString)
      assert(r.getAs[Long]("bytes_cached_max") == need)
      assert(r.getAs[Long]("n_files") == 1L)
      assert(r.getAs[Long]("pool_limit") > 0L)
    }
    // a directory-level directive caches its DIRECT children
    val session = spark
    import session.implicits._
    val dirDirective = Seq((99L, "/dir_0", 2, "pool_0", 0L, false))
      .toDF("directive_id", "path", "cache_replication", "pool", "expiry_ms", "expiry_relative")
    val dirRep = Reports.cacheReport(inodes, dirDirective,
      FsImageSource.cachePools(spark, img)).collect()(0)
    val expect = inodes.filter(col("ftype") === "F")
      .filter(col("path").startsWith("/dir_0/"))
      .agg(org.apache.spark.sql.functions.sum("size"),
        org.apache.spark.sql.functions.count("*")).collect()(0)
    assert(dirRep.getAs[Long]("bytes_needed") == expect.getLong(0) * 2) // repl 2
    assert(dirRep.getAs[Long]("n_files") == expect.getLong(1))

    // empty case: no section → empty frames, report yields no rows
    val img2 = new java.io.File(dir, "nocache.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    assert(FsImageSource.cachePools(spark, img2).count() == 0)
    assert(FsImageSource.cacheDirectives(spark, img2).count() == 0)
    inodes.unpersist()
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("INODE_REFERENCE section parses and joins back to inodes") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_refs").toFile
    val img = new java.io.File(dir, "refs.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 2, nFiles = 10,
      nSnapshots = 2, nRefs = 5))

    assert(FsImageSource.sections(spark, img).collect()
      .map(_.getAs[String]("name")).contains("INODE_REFERENCE"))

    val refs = FsImageSource.inodeReferences(spark, img).collect()
    assert(refs.length == 5)
    // even rows are dst-references (live path: dst set, last unset),
    // odd rows the with-name side (old name inside a snapshot)
    assert(refs.count(r => r.getAs[Int]("dst_snapshot_id") >= 0 &&
      r.getAs[Int]("last_snapshot_id") < 0) == 3)
    assert(refs.filter(_.getAs[Int]("last_snapshot_id") >= 0)
      .forall(_.getAs[String]("name").startsWith("old_name_")))
    // every referred id resolves through the inode table (documented join)
    val inodeIds = FsImageSource.inodes(spark, img)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(refs.forall(r => inodeIds(r.getAs[Long]("referred_id"))))

    // an image without the section yields an empty frame, same schema
    val img2 = new java.io.File(dir, "norefs.img").getPath
    ImageGen.write(img2, ImageGen.GenSpec(nDirs = 2, nFiles = 5))
    val none = FsImageSource.inodeReferences(spark, img2)
    assert(none.count() == 0 && none.columns.toSeq ==
      Seq("referred_id", "name", "dst_snapshot_id", "last_snapshot_id"))
    new java.io.File(img).delete()
    new java.io.File(img2).delete()
  }

  test("HFSA reports run unchanged on fsimage data") {
    assume(haveImages)
    val df = FsImageSource.inodes(spark, H3)

    val summary = Reports.summaryByUser(df).collect()
    assert(summary.map(_.getAs[String]("owner")).toSet == Set("mm", "root", "foo"))
    val mm = summary.find(_.getAs[String]("owner") == "mm").get
    assert(mm.getAs[Long]("n_files") == 14) // all but the root/foo-owned files

    val hist = Reports.sizeHistogram(df).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n_files")).toMap
    // 2×1KiB + 1×2KiB files < 1MiB → bucket 1; 1×1MiB + 5×2MiB in [1,2MiB] → buckets 2-3
    assert(hist(1) == 3)

    val hot = Reports.smallFilesHotspots(df, limitBytes = 2L * 1024 * 1024, topN = 5).collect()
    assert(hot.head.getAs[String]("dir") == "/") // root rolls up every small file

    val lookup = Reports.inodeLookup(df, Seq("/datalake", "/test3/foo")).collect()
    assert(lookup.map(_.getAs[String]("path")).toSeq == Seq("/datalake", "/test3/foo"))
  }

  test("dir child counts match FsImageData.getNumChildren expectations") {
    assume(haveImages)
    // reference FsImageLoaderTest.java:233-236
    val counts = Reports.dirChildCounts(FsImageSource.inodes(spark, H3)).collect()
      .map(r => r.getAs[String]("dir") -> r.getAs[Long]("n_children")).toMap
    assert(counts("/datalake") == 3)
    assert(counts("/test3") == 3)
    assert(counts("/test3/foo") == 3)
    assert(counts("/test3/foo/bar") == 6)
    assert(counts("/") == 6) // user test1 test2 test3 datalake test_2KiB.img
  }

  test("namespace diff: driver and distributed loads produce IDENTICAL diff rows at 1M inodes") {
    // the DiffBench soak's correctness anchor at spec scale: the SAME
    // image pair diffed through BOTH loaders must agree row-for-row
    // (order-independent fingerprint over every column — the ImageBench
    // row-identity recipe), and the counts must equal ImageGen ground
    // truth exactly (adds = new files, removes = dropped symlinks,
    // modifies = the sizeShiftEvery'd shared files)
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft_diff1m").toFile
    val imgA = new java.io.File(dir, "a.img").getPath
    val imgB = new java.io.File(dir, "b.img").getPath
    val n = 1000000
    graft.sources.fsimage.ImageGen.write(imgA,
      graft.sources.fsimage.ImageGen.GenSpec(
        nDirs = 10000, nFiles = n, nSymlinks = 1000))
    graft.sources.fsimage.ImageGen.write(imgB,
      graft.sources.fsimage.ImageGen.GenSpec(
        nDirs = 10000, nFiles = n + 5000, nSymlinks = 0,
        sizeShiftEvery = 1000))
    def diffOf(load: String => org.apache.spark.sql.DataFrame) =
      Reports.namespaceDiff(load(imgA), load(imgB)).localCheckpoint()
    val dDrv = diffOf(FsImageSource.inodes(spark, _))
    val dDist = diffOf(FsImageSource.inodesDistributed(spark, _))
    def fp(df: org.apache.spark.sql.DataFrame): Long =
      df.select(pmod(xxhash64(df.columns.sorted.map(col): _*),
          lit(1000000007L)).as("h"))
        .agg(sum(col("h"))).head().getLong(0)
    val counts = dDist.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("added") === 5000L)
    assert(counts("removed") === 1000L)
    assert(counts("modified") === 1000L) // i % 1000 == 0, i < 1M
    assert(dDrv.count() === dDist.count())
    assert(fp(dDrv) === fp(dDist),
      "driver vs distributed namespace diff fingerprints diverged")
    new java.io.File(imgA).delete(); new java.io.File(imgB).delete()
  }

  test("namespace diff between two generated snapshots") {
    val dir = java.nio.file.Files.createTempDirectory("graft_diff").toFile
    val img1 = new java.io.File(dir, "a.img").getPath
    val img2 = new java.io.File(dir, "b.img").getPath
    graft.sources.fsimage.ImageGen.write(img1, nDirs = 10, nFiles = 100)
    graft.sources.fsimage.ImageGen.write(img2, nDirs = 10, nFiles = 120)

    val diff = Reports.namespaceDiff(
      FsImageSource.inodes(spark, img1), FsImageSource.inodes(spark, img2))
    val byChange = diff.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byChange("added") == 20) // f_100..f_119
    assert(!byChange.contains("removed"))
    new java.io.File(img1).delete(); new java.io.File(img2).delete()
  }

  test("summary sort options, user filter, id lookup, per-user buckets") {
    assume(haveImages)
    val df = FsImageSource.inodes(spark, H3)

    // block-count sort puts mm (14 blocks) first; regex filter keeps 2 users
    val byBlocks = Reports.summaryByUser(df, sortBy = "bc").collect()
    assert(byBlocks.head.getAs[String]("owner") == "mm")
    val filtered = Reports.summaryByUser(df, ownerRegex = Some("^(mm|foo)$")).collect()
    assert(filtered.map(_.getAs[String]("owner")).toSet == Set("mm", "foo"))

    // root inode id lookup
    val root = Reports.inodeLookupById(df, Seq(FsImageSource.RootInodeId)).collect()
    assert(root.length == 1 && root.head.getAs[String]("path") == "/")

    // per-user bucket histogram: mm has 3 files < 1 MiB? (1KiB×1 + 2KiB×1 → bucket 1)
    val buckets = Reports.userSizeBuckets(df).collect()
      .map(r => r.getAs[String]("owner") -> r.getList[Any](1).size()).toMap
    assert(buckets.keySet == Set("mm", "root", "foo"))
    assert(buckets("foo") == 1) // one 160 MiB file → a single bucket
  }

  test("distributed path walk: cycle guard raises instead of looping; dangling parent root-attaches") {
    import spark.implicits._
    // a → b → a parent cycle in the dir table: the frontier never drains,
    // so the depth cap must raise the same diagnosis the driver loader's
    // pathResolver cycle guard gives — never an infinite job loop
    val cyc = Seq((20000L, "a", 20001L), (20001L, "b", 20000L))
      .toDF("id", "name", "parent")
    val e = intercept[IllegalStateException] {
      FsImageSource.dirPathsDistributed(spark, cyc, maxDepth = 8).count()
    }
    assert(e.getMessage.contains("parent cycle"))

    // a dir whose parent id is absent from the dir table attaches at
    // root (the driver loader's semantics), and normal chains resolve
    val dirs = Seq(
      (20010L, "top", FsImageSource.RootInodeId),
      (20011L, "mid", 20010L),
      (20012L, "leaf", 20011L),
      (20013L, "orphan", 99999L)) // dangling parent
      .toDF("id", "name", "parent")
    val paths = FsImageSource.dirPathsDistributed(spark, dirs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(paths(FsImageSource.RootInodeId) == "/")
    assert(paths(20012L) == "/top/mid/leaf")
    assert(paths(20013L) == "/orphan")
  }

  test("distributed path walk: a 64-deep chain resolves in at most 7 rounds") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_deep").toFile
    val img = new java.io.File(dir, "deep.img").getPath
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 70, nFiles = 200, chainDirs = 64))
    val deepest = (0 until 64).map(j => s"dir_$j").mkString("/", "/", "")
    val (found, jobs) = jobsDuring(FsImageSource.inodesDistributed(spark, img)
      .filter(col("path") === deepest).select("depth").collect())
    assert(found.get.map(_.getInt(0)).toSeq == Seq(64))
    // pointer jumping: round r resolves every dir within 2^r links of root
    val Round = "fsimage dir paths round (\\d+)".r
    val rounds = jobs.collect { case Round(r) => r.toInt }.distinct
    info(s"${rounds.size} rounds, ${jobs.size} jobs")
    assert(rounds.nonEmpty && rounds.max <= 7, s"round jobs: $rounds of ${jobs.size} jobs")
    new java.io.File(img).delete()
  }

  test("distributed load of the depth-1 session image stays under a job bound") {
    import graft.sources.fsimage.ImageGen
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toFile
    val img = new java.io.File(dir, "ns.img").getPath
    // the benchmark's fsimage_session image: 31,301 inodes, every dir under root
    ImageGen.write(img, ImageGen.GenSpec(nDirs = 300, nFiles = 30000, ecEvery = 100,
      aclEvery = 1000, xattrEvery = 1000, nSymlinks = 1000, withAtime = true,
      quotaEvery = 100, ucEvery = 1000))
    val (n, jobs) = jobsDuring(FsImageSource.inodesDistributed(spark, img).count())
    assert(n.get == 31301L)
    info(s"${jobs.size} jobs")
    // 12 jobs; the loader before the pointer-jumping walk ran 25 here
    // (per-round isEmpty + eager checkpoint, one-task parse, two joins)
    assertJobBudget(jobs, 16)
    new java.io.File(img).delete()
  }
}
