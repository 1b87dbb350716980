package graft.queries

import java.io.File
import java.nio.file.Files
import graft.SparkSpecBase

/** The oracle exports' lifetime: each process writes its own
  * `p<PID>` export dir, and `ensureExport` removes the old ones of
  * processes that have ended. */
class FsImageQueriesSpec extends SparkSpecBase {

  /** A pid no process has: past Linux's largest `pid_max` (2^22). */
  private def deadPid(from: Long): Long =
    Iterator.from(0).map(from + _).find(p => !ProcessHandle.of(p).isPresent).get

  private def planted(pid: Long, name: String): File = {
    val f = new File(s"${FsImageQueries.BaseDir}/p$pid/$name")
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, "planted")
    f
  }

  test("ensureExport removes old export dirs of dead processes and keeps live ones") {
    val old = planted(deadPid((1L << 22) + 1000), "old").getParentFile
    old.setLastModified(System.currentTimeMillis() - 2 * FsImageQueries.ExportGraceMs)
    // a dead process's fresh export may still await its DuckDB compare
    val fresh = planted(deadPid((1L << 22) + 2000), "fresh").getParentFile
    val own = planted(ProcessHandle.current().pid(), "own-marker")
    try {
      FsImageQueries.ensureExport(spark)
      assert(!old.exists(), s"$old survived the sweep")
      assert(fresh.exists(), s"$fresh was swept within its grace period")
      assert(own.exists(), s"the live process's own $own was swept")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(old)
      org.apache.commons.io.FileUtils.deleteQuietly(fresh)
      own.delete()
    }
  }
}
