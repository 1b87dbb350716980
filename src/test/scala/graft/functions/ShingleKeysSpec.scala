package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** [[ShingleKeysExpr]] against the built-in column composition it
  * replaced, on edge-case texts and on the whole sf0.001 corpus, through
  * both the generated and the interpreted path. */
class ShingleKeysSpec extends SparkSpecBase {

  private def key(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  private def composedKeys(t: Column): Column = transform(array_distinct(word_shingles_raw(t)), key(_))
  private def composedSeq(t: Column): Column = transform(word_shingles_raw(t), key(_))

  private val texts: Seq[String] = Seq(
    null, "", " ", "   ", "a", "a b", " a b", "a b ", "a b c", " a b c", "a b c ",
    "a  b\t\tc\nd", "\n\na b c\r\n", "x y z x y z x y z", "a a a a a a",
    "héllo wörld 日本 語 テキスト", "a b c d", "emoji 😀 in text here",
    "the same the same the same the end")

  test("the kernel equals the composition on edge-case texts, generated and interpreted") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("text", StringType))))
    val rows = df.select(col("text"),
      word_shingle_keys(col("text")).as("k"), composedKeys(col("text")).as("ck"),
      word_shingle_seq(col("text")).as("s"), composedSeq(col("text")).as("cs")).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val t = Option(r.getString(0)).map(_.replace("\n", "\\n")).orNull
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"keys of '$t'")
      assert(r.getSeq[Any](3) == r.getSeq[Any](4), s"seq of '$t'")
    }
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.getSeq[Any](1) == Seq(null))
    // interpreted: eval() without codegen
    texts.foreach { t =>
      val lit = Literal.create(t, StringType)
      val expect = rows.find(r => r.getString(0) == t).get
      for ((distinct, idx) <- Seq(true -> 1, false -> 3)) {
        val got = ShingleKeysExpr(lit, distinct).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val vals = (0 until got.numElements()).map(i => if (got.isNullAt(i)) null else got.getLong(i))
        assert(vals == expect.getSeq[Any](idx), s"interpreted distinct=$distinct '$t'")
      }
    }
  }

  test("the kernel equals the composition on the sf0.001 corpus, schema included") {
    val docs = graft.core.Tables.documents(spark, Sf)
    val a = docs.select(word_shingle_keys(col("text")).as("k"), word_shingle_seq(col("text")).as("s"))
    val b = docs.select(composedKeys(col("text")).as("k"), composedSeq(col("text")).as("s"))
    assert(a.schema == b.schema)
    val diff = docs.select(col("doc_id"),
        word_shingle_keys(col("text")).as("k"), composedKeys(col("text")).as("ck"),
        word_shingle_seq(col("text")).as("s"), composedSeq(col("text")).as("cs"))
      .filter(!(col("k") <=> col("ck")) || !(col("s") <=> col("cs")))
      .count()
    assert(diff == 0L)
    val n = docs.select(explode(word_shingle_keys(col("text")))).count()
    assert(n > 0)
  }
}
