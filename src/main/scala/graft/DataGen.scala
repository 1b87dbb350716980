package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor synthesizer for the linearity study (VERDICT r6 item 3):
  * builds an sf-N corpus as `mult` KEY-DISJOINT replicas of a base sf dir
  * (deterministic, no RNG), so every join fan-out, group size per key and
  * near-dup family of the base is reproduced exactly `mult` times — the
  * cleanest possible "same workload, N× the rows" probe for per-query
  * scaling factors.
  *
  * Replica recipe (offset = r·10⁸ keeps every id family — including the
  * +10⁶ planted-twin convention of d_semdedup_eval09 — collision-free):
  *  - every key/foreign-key column shifts by the SAME offset, so
  *    referential joins stay intact within a replica and never cross
  *    replicas;
  *  - document text is vowel-ROTATED per replica (length-preserving, so
  *    n_chars and token counts survive): replicas are dissimilar at the
  *    shingle level, keeping the near-dup pair structure per-replica
  *    instead of exploding C(mult,2) cross-replica families;
  *  - embeddings perturb per (vec_id, replica, dim) — distinct points,
  *    same geometry;
  *  - event timestamps are NOT shifted: the time range stays fixed and
  *    windows get mult× denser, which is how a real stream grows.
  *
  * `runMain graft.DataGen <baseDir> <outDir> [mult]` (default 10).
  */
object DataGen {

  private val Offset = 100000000L

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val mult = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.core.GraftSession.get()
    import spark.implicits._

    val reps = spark.range(mult).toDF("r")
    def off(c: String) = (col(c) + col("r") * Offset).as(c)

    // vowel rotation, replica-keyed: deterministic, length-preserving,
    // identity at r = 0 (replica 0 IS the base corpus)
    val vowels = "aeiou"
    def rotated(textCol: String): org.apache.spark.sql.Column = {
      val cases = (0 until mult).map { r =>
        val to = (0 until 5).map(i => vowels((i + r) % 5)).mkString
        (r, translate(col(textCol), vowels, to))
      }
      cases.tail.foldLeft(when(col("r") === cases.head._1, cases.head._2)) {
        case (acc, (r, e)) => acc.when(col("r") === r, e)
      }.otherwise(col(textCol))
    }

    def replicate(name: String, keyCols: Seq[String],
                  extra: DataFrame => DataFrame = identity): Unit = {
      val df0 = spark.read.parquet(s"$base/$name.parquet")
      val replicated = df0.crossJoin(reps)
      val shifted = keyCols.foldLeft(replicated) { (df, k) =>
        df.withColumn(k, col(k) + col("r") * Offset)
      }
      extra(shifted).drop("r")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    // dimension universe tables: shared, copied as-is
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$base/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"),
      df => df.withColumn("text", rotated("text")))
    replicate("embeddings", Seq("vec_id"), df =>
      df.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(col("r") === 0, x).otherwise( // replica 0 IS the base
            (x + pmod(col("vec_id") * 7 + col("r") * 13 + i, lit(1000))
              .cast("float") / lit(1000000.0f)).cast("float")))))

    val counts = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .map(n => n -> spark.read.parquet(s"$out/$n.parquet").count())
    println(counts.map { case (n, c) => s""""$n":$c""" }
      .mkString(s"""{"metric":"datagen","mult":$mult,"out":"$out",""", ",", "}"))
    spark.stop()
  }
}
