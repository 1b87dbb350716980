package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic corpus for the training-data workload: the
  * `documents`, `embeddings` and `lineitem` tables that the curation
  * pipeline, the graph queries and the vector queries read. A fixed
  * generator seed makes every run read byte-identical rows, so query
  * fingerprints recorded once stay valid.
  *
  * Documents mix exact copies and few-word edits of earlier documents, so
  * exact dedup, near-dup clustering and keep-best all do work. Embeddings
  * are Gaussian clusters. Line items group parts into orders of 1 to 7
  * lines with skewed part popularity, which gives the co-order graph hubs
  * and a non-trivial k-core.
  */
object TrainingData {

  final case class Size(docs: Int, vectors: Int, orders: Int, parts: Int)

  private val Words = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "vector", "table", "the",
    "join", "data", "row", "merge", "stream", "customer", "dup", "index")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Dim = 64
  private val Clusters = 20

  /** Writes `df` as the single parquet file `<dir>/<name>.parquet`, the
    * layout of the tables the repository's queries and oracle read. */
  def singleFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = new File(dir, s".tmp-$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteQuietly(tmp)
  }

  def write(spark: SparkSession, dir: String, size: Size, seed: Long = 7L): Unit = {
    val rnd = new java.util.Random(seed)

    val texts = new Array[String](size.docs)
    val docs = (0 until size.docs).map { i =>
      val r = rnd.nextDouble()
      val text =
        if (i > 10 && r < 0.05) texts(rnd.nextInt(i)) // exact copy
        else if (i > 10 && r < 0.15) { // near copy: a few words replaced
          val w = texts(rnd.nextInt(i)).split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = Words(rnd.nextInt(Words.length)))
          w.mkString(" ")
        } else Array.fill(8 + rnd.nextInt(72))(Words(rnd.nextInt(Words.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))

    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian().toFloat * 0.3f)
    val vecs = (0 until size.vectors).map { i =>
      val c = rnd.nextInt(Clusters)
      val v = Array.tabulate(Dim)(d => centers(c)(d) + rnd.nextGaussian().toFloat * 0.08f)
      Row(i.toLong, v.toSeq, c % 10)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))

    val lines = (0 until size.orders).flatMap { o =>
      val n = 1 + rnd.nextInt(7)
      (1 to n).map { ln =>
        // squared uniform: low part keys are popular, the tail is sparse
        val u = rnd.nextDouble()
        val part = (u * u * size.parts).toLong
        Row(o.toLong, part, (part * 7 + ln) % 1000, ln, (1 + rnd.nextInt(50)).toDouble)
      }
    }
    val lineSchema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType)))

    def out(rows: Seq[Row], schema: StructType, name: String): Unit =
      singleFile(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema), dir, name)
    out(docs, docSchema, "documents")
    out(vecs, vecSchema, "embeddings")
    out(lines, lineSchema, "lineitem")
  }
}
