package graft

import graft.sources.FsImageSource
import graft.sources.fsimage.ImageGen

/** fsimage ingest bench: generates a synthetic image and times the
  * driver loader, the ranged distributed loader, and a summary report
  * over the loaded namespace — the engine's headline path vs the
  * reference's in-memory loader. One JSON line on stdout.
  *
  * `runMain graft.ImageBench [nFiles] [nDirs] [distOnly]` (defaults
  * 2M / 20k; env: SPARK_DRIVER_MEM). `distOnly`
  * skips the driver loader entirely — the capped-heap soak mode: the
  * driver loader materializes EVERY inode driver-side and provably
  * OOMs at 10M inodes / 4g, while the ranged loader's driver state is
  * only the dir tree + string table, so it must fit the same cap.
  */
object ImageBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(2000000)
    val nDirs = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    val distOnly = args.drop(2).headOption.contains("distOnly")
    val spark = graft.core.GraftSession.get()
    import Harness.{time, ms3}

    val dir = java.nio.file.Files.createTempDirectory("graft_imgbench").toFile
    val img = new java.io.File(dir, "bench.img").getPath
    val (tGen, _) = time(ImageGen.write(img, ImageGen.GenSpec(
      nDirs = nDirs, nFiles = nFiles, ecEvery = 100, aclEvery = 1000,
      xattrEvery = 1000, nSymlinks = 1000, withAtime = true,
      quotaEvery = 100)))
    val bytes = new java.io.File(img).length()

    // Row-IDENTITY between the loaders, not just equal counts: an
    // order-independent fingerprint (sum of per-row xxhash64 over every
    // column) — a swapped column, dropped row, or wrong perm decode in the
    // ranged path shifts the sum. Cheap enough to run at 10M+ rows.
    import org.apache.spark.sql.functions.{xxhash64, pmod, lit, sum, col}
    def fingerprint(df: org.apache.spark.sql.DataFrame): Long = {
      val cols = df.columns.sorted.map(col)
      // mod-prime before the sum: raw xxhash64 longs overflow a bigint sum
      // under ANSI after ~2 rows in the worst case; mod 1e9+7 keeps the
      // sum < 2^63 up to ~9e9 rows while staying order-independent
      df.select(pmod(xxhash64(cols: _*), lit(1000000007L)).as("h"))
        .agg(sum(col("h"))).head().getLong(0)
    }
    val (tDist, nX) = time(FsImageSource.inodesDistributed(spark, img).count())
    val (tDriver, nD) =
      if (distOnly) (-1.0, nX)
      else time(FsImageSource.inodes(spark, img).count())
    require(nD == nX, s"driver($nD) != distributed($nX)")
    val expectInodes = 1L + nDirs + nFiles + 1000 // root + dirs + files + symlinks
    require(nX == expectInodes, s"distributed count $nX, expected $expectInodes")
    val rowIdentity =
      if (distOnly) false
      else {
        val fpD = fingerprint(FsImageSource.inodes(spark, img))
        val fpX = fingerprint(FsImageSource.inodesDistributed(spark, img))
        require(fpD == fpX,
          s"row fingerprint mismatch: driver $fpD != distributed $fpX")
        true
      }
    // reports over the distributed load: the end-to-end admin path
    val (tReport, _) = time {
      graft.operators.Reports
        .summaryByUser(FsImageSource.inodesDistributed(spark, img)).count()
    }
    // quota accounting = the ancestor-rollup shape (explode + two aggs)
    // over a fresh load — the heaviest report family at 100 M inodes
    val (tQuota, nQ) = time {
      graft.operators.Reports
        .quotaReport(FsImageSource.inodesDistributed(spark, img)).count()
    }
    val expectQ = nDirs / 100 + (if (nDirs % 100 > 0) 1 else 0)
    require(nQ == expectQ, s"quota-dir count $nQ, expected $expectQ")
    // peak heap sampled AFTER the report phases covers the whole run
    val peakHeapMb = Harness.peakHeapMb
    println(s"""{"metric":"fsimage_ingest","inodes":$nD,"image_bytes":$bytes,""" +
      s""""gen_sec":${ms3(tGen)},"driver_sec":${ms3(tDriver)},""" +
      s""""distributed_sec":${ms3(tDist)},"report_sec":${ms3(tReport)},""" +
      s""""quota_report_sec":${ms3(tQuota)},"row_identity":$rowIdentity,""" +
      s""""peak_heap_mb":$peakHeapMb,"xmx":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"}""")
    new java.io.File(img).delete()
    spark.stop()
  }
}
