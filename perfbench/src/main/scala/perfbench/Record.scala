package perfbench

import org.apache.spark.sql.Row

/** Writes the `training_iter` corpus to a directory, runs that
  * workload's ops once and prints the values [[Expected.training]] must
  * hold, plus each query's rows for inspection. The directory also gets
  * a one-row stub table for each other name the DuckDB oracle script opens.
  *
  * `perfbench.Record <dir>`; `record_expected.py` drives it.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.GraftSession.builder(master = "local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TrainingData.write(spark, dir, Sizes.Training)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "events")
      .foreach(t => TrainingData.singleFile(spark.range(1).toDF(), dir, t))
    val in = TrainingIter.In(dir)
    val tracer = new Tracer("record", spark.sparkContext, None)
    TrainingIter.ops(spark, in, s"$dir/out").foreach { op =>
      val value = op.body(new Phases(tracer, op.name, op.layer)) match {
        case rows: Array[Row] =>
          rows.take(12).foreach(r => println(s"  ${op.name}: $r"))
          Workloads.fingerprint(rows)
        case stages: Seq[_] => TrainingIter.stageString(stages)
      }
      println(s"""    "${op.name}" -> "$value",""")
    }
    spark.stop()
  }
}
