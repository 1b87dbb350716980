package graft

import graft.sources.FsImageSource
import graft.sources.fsimage.ImageGen

/** fsimage ingest bench: generates a synthetic image and times the
  * loader ([[FsImageSource.inodesDistributed]]) and two reports over the
  * loaded namespace. One JSON line on stdout.
  *
  * `runMain graft.ImageBench [nFiles] [nDirs]` (defaults 2M / 20k; env:
  * SPARK_DRIVER_MEM). The loader's driver state is the string table, the
  * scan buffer and the range list, never O(#inodes), so a small
  * SPARK_DRIVER_MEM makes the run a capped-heap soak.
  */
object ImageBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(2000000)
    val nDirs = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    val spark = graft.core.GraftSession.get()
    import Harness.{time, ms3}

    val dir = java.nio.file.Files.createTempDirectory("graft_imgbench").toFile
    val img = new java.io.File(dir, "bench.img").getPath
    val (tGen, _) = time(ImageGen.write(img, ImageGen.GenSpec(
      nDirs = nDirs, nFiles = nFiles, ecEvery = 100, aclEvery = 1000,
      xattrEvery = 1000, nSymlinks = 1000, withAtime = true,
      quotaEvery = 100)))
    val bytes = new java.io.File(img).length()

    val (tDist, nX) = time(FsImageSource.inodesDistributed(spark, img).count())
    val expectInodes = 1L + nDirs + nFiles + 1000 // root + dirs + files + symlinks
    require(nX == expectInodes, s"loaded count $nX, expected $expectInodes")
    // reports over a fresh load: the end-to-end admin path
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
    println(s"""{"metric":"fsimage_ingest","inodes":$nX,"image_bytes":$bytes,""" +
      s""""gen_sec":${ms3(tGen)},"distributed_sec":${ms3(tDist)},""" +
      s""""report_sec":${ms3(tReport)},"quota_report_sec":${ms3(tQuota)},""" +
      s""""peak_heap_mb":$peakHeapMb,"xmx":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"}""")
    new java.io.File(img).delete()
    spark.stop()
  }
}
