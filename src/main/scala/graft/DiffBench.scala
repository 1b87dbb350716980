package graft

import graft.operators.Reports
import graft.sources.FsImageSource
import graft.sources.fsimage.ImageGen

/** Image-to-image namespace-diff soak — the r9/r10 verdicts' open scale
  * proof: [[Reports.namespaceDiff]] composed with
  * [[FsImageSource.inodesDistributed]] on TWO capped-heap-scale images,
  * with add/remove/modify counts checked against [[ImageGen]] ground
  * truth (deterministic generator → exact expected counts, not
  * spot-checks):
  *
  *  - image A: nFiles files + 1000 symlinks
  *  - image B: nFiles + nFiles/1000 files (adds), no symlinks (removes),
  *    every 1000th shared file 1 KiB larger (`sizeShiftEvery` — modifies)
  *  - expected: added = nFiles/1000, removed = 1000,
  *    modified = ceil(nFiles/1000) (file 0 always shifts)
  *
  * Shape: each image loads ALONE and stages its 5-column diff
  * projection as parquet, releasing the load's cached state before the
  * next load (co-residing two 100M resolves in one job needs ~4× the
  * single-load heap — measured OOM at 4g; staged, each load runs at the
  * r7 single-image budget). The diff then joins the two STAGED tables:
  * a full-outer SHUFFLE on the path key — never a broadcast of a
  * 100M-row side or a driver materialization — and the executed plan is
  * asserted to contain a SortMergeJoin and no nested-loop/cartesian
  * fallback before the counts are trusted. Driver state across all
  * phases is O(string table + scan buffer) + the 3-row change summary.
  *
  * `runMain graft.DiffBench [nFiles] [nDirs]` (defaults 2M / 20k;
  * env: SPARK_DRIVER_MEM, SPARK_GRAFT_SHUFFLE).
  * One JSON line on stdout.
  */
object DiffBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(2000000)
    val nDirs = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    // partitions sized for the capped heap, not the default 32: at 100M
    // inodes a 32-partition sort-merge join sorts ~3M paths per task —
    // 8 concurrent ~300MB slices in a 4g heap OOM before spill can help.
    // 256 slices keep each task's working set ~40MB; the conf is the
    // exact lever a 1000-executor deployment would set per its own heap.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "256").toInt
    val spark = graft.core.GraftSession.builder(shufflePartitions = parts).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import Harness.{time, ms3}

    val nAdds = nFiles / 1000
    val nLinks = 1000
    val shiftEvery = 1000
    val expectModified = (nFiles + shiftEvery - 1) / shiftEvery

    val dir = java.nio.file.Files.createTempDirectory("graft_diffbench").toFile
    val imgA = new java.io.File(dir, "a.img").getPath
    val imgB = new java.io.File(dir, "b.img").getPath
    val (tGenA, _) = time(ImageGen.write(imgA,
      ImageGen.GenSpec(nDirs = nDirs, nFiles = nFiles, nSymlinks = nLinks)))
    val (tGenB, _) = time(ImageGen.write(imgB,
      ImageGen.GenSpec(nDirs = nDirs, nFiles = nFiles + nAdds,
        nSymlinks = 0, sizeShiftEvery = shiftEvery)))
    val bytes = new java.io.File(imgA).length() + new java.io.File(imgB).length()

    // Production staging shape: each image LOADS ALONE and lands its
    // 5-column diff projection as a parquet table, with the load's
    // cached/checkpointed state released before the next load starts —
    // holding two 100M-inode resolves co-resident in one job OOM'd a 4g
    // heap (first r11 attempt) where the r7 single-load soak needs only
    // 2g. At fleet scale this is how the diff runs anyway: images land
    // as tables on arrival (bucketed by path), and the diff is a join
    // between TABLES, never a double re-parse.
    def stage(img: String, out: String): Double = {
      val (t, _) = time {
        Reports.diffProjection(FsImageSource.inodesDistributed(spark, img))
          .write.mode("overwrite").parquet(out)
        // release the load's checkpointed blocks so the next load starts
        // from the r7 single-image budget
        Harness.dropBlocks(spark)
      }
      t
    }
    val (pqA, pqB) = (new java.io.File(dir, "a.pq").getPath,
      new java.io.File(dir, "b.pq").getPath)
    val tLoadA = stage(imgA, pqA)
    val tLoadB = stage(imgB, pqB)
    val diff = Reports.namespaceDiff(
      spark.read.parquet(pqA), spark.read.parquet(pqB))

    // Plan proof BEFORE the run: the full-outer join must shuffle on
    // path. A broadcast full-outer is impossible in Spark, but assert
    // anyway that no nested-loop/cartesian fallback sneaked in and that
    // the join is the sort-merge shape.
    val plan = diff.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      s"namespaceDiff plan lost its shuffle join:\n${plan.take(2000)}")
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"namespaceDiff plan fell back to a nested loop:\n${plan.take(2000)}")

    // The diff lands as a table too (production: the diff output is what
    // downstream consumers — incremental maintenance, audits — read; it
    // is never recomputed per consumer). ~|changes| rows, tiny next to
    // the images.
    val pqD = new java.io.File(dir, "d.pq").getPath
    val (tDiff, _) = time {
      diff.write.mode("overwrite").parquet(pqD)
    }
    val diffT = spark.read.parquet(pqD)
    val byChange = diffT.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(byChange.getOrElse("added", 0L) == nAdds.toLong,
      s"added ${byChange.get("added")} != $nAdds")
    require(byChange.getOrElse("removed", 0L) == nLinks.toLong,
      s"removed ${byChange.get("removed")} != $nLinks")
    require(byChange.getOrElse("modified", 0L) == expectModified.toLong,
      s"modified ${byChange.get("modified")} != $expectModified")

    // Incremental report maintenance at soak scale (the §2.2 incremental
    // family's 100M proof): the after-image per-owner summary via (a) a
    // full recompute over the 100M-row staged table vs (b) the stored
    // before-summary + the diff's O(|diff|) delta — same rows, and (b)
    // never touches the after image. The before summary is built once
    // (production: it already exists as last cycle's output).
    val beforeSum = Reports.filesSummary(spark.read.parquet(pqA))
      .localCheckpoint()
    def rowSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val (tFullSum, fullSum) = time {
      rowSet(Reports.filesSummary(spark.read.parquet(pqB)).collect())
    }
    val (tIncrSum, incrSum) = time {
      rowSet(Reports.applySummaryDelta(beforeSum,
        Reports.summaryDelta(diffT)).collect())
    }
    require(incrSum == fullSum,
      s"incremental summary diverged from full recompute at $nFiles inodes")

    println(s"""{"metric":"namespace_diff_soak","n_files":$nFiles,""" +
      s""""n_dirs":$nDirs,"image_bytes":$bytes,""" +
      s""""gen_a_sec":${ms3(tGenA)},"gen_b_sec":${ms3(tGenB)},""" +
      s""""load_a_sec":${ms3(tLoadA)},"load_b_sec":${ms3(tLoadB)},""" +
      s""""diff_sec":${ms3(tDiff)},""" +
      s""""full_summary_sec":${ms3(tFullSum)},""" +
      s""""incr_summary_sec":${ms3(tIncrSum)},""" +
      s""""summary_owners":${fullSum.size},"summary_equal":true,""" +
      s""""added":${byChange.getOrElse("added", 0L)},""" +
      s""""removed":${byChange.getOrElse("removed", 0L)},""" +
      s""""modified":${byChange.getOrElse("modified", 0L)},""" +
      s""""sort_merge_join":true,"peak_heap_mb":${Harness.peakHeapMb},""" +
      s""""xmx":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}"}""")
    new java.io.File(imgA).delete(); new java.io.File(imgB).delete()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pqA))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pqB))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pqD))
    spark.stop()
  }
}
