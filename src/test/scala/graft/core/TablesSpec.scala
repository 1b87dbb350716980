package graft.core

import graft.SparkSpecBase

/** [[Tables]] reads each table with the schema of its parquet footer,
  * read on the driver: no Spark job starts, and the schema is the one
  * `spark.read.parquet` infers (with its job). */
class TablesSpec extends SparkSpecBase {

  test("reading a table starts no job, and its schema equals the inferred one") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    Tables.All.foreach { name =>
      val (df, jobs) = jobsDuring(Tables.table(spark, Sf, name))
      assert(jobs.isEmpty, s"$name: $jobs")
      assert(df.get.schema == spark.read.parquet(s"$Sf/$name.parquet").schema, name)
    }
    // events' nanosecond column arrives as a long and is converted back
    val (ev, jobs) = jobsDuring(Tables.events(spark, Sf))
    assert(jobs.isEmpty, jobs)
    assert(ev.get.schema("ts").dataType != org.apache.spark.sql.types.LongType)
  }

  test("a directory's schema comes from its first data file, as inference does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    val path = new java.io.File(dir, "t.parquet").getPath
    try {
      Seq((1L, "a", Seq(1.5f)), (2L, null, Seq.empty[Float])).toDF("id", "s", "xs")
        .repartition(2).write.parquet(path)
      assert(Tables.parquetSchema(spark, path) == spark.read.parquet(path).schema)
      assert(Tables.table(spark, dir.getPath, "t").count() == 2L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
