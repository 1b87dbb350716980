package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpecBase {

  test("zValue interleaves bits: x at even positions, y at odd") {
    import spark.implicits._
    // x=5 (101b) → bits at z-pos 0,4 = 17; y=3 (011b) → z-pos 1,3 = 10
    val got = Seq((5L, 3L), (0L, 0L), (7L, 0L), (0L, 7L), (1L, 1L))
      .toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(27L, 0L, 21L, 42L, 3L))
    // full-width default: interleave round-trips for a wide value
    val wide = Seq((123456L, 654321L)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y")).as("z"))
      .head().getLong(0)
    def deinterleave(z: Long, odd: Int): Long =
      (0 until 21).map(i => ((z >> (2 * i + odd)) & 1L) << i).sum
    assert(deinterleave(wide, 0) == 123456L && deinterleave(wide, 1) == 654321L)
  }

  test("layout range-partitions on z: partitions hold disjoint z-ranges in pid order") {
    import spark.implicits._
    val df = (0 until 1024).map(i => ((i * 37) % 101, (i * 53) % 97))
      .toDF("x", "y")
    val laid = ZOrder.layout(df, "x", "y", nFiles = 8)
    val ranges = laid.select(col("z"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        val zs = it.map(_.getLong(0)).toSeq
        if (zs.isEmpty) Iterator.empty
        else Iterator((pid, zs.min, zs.max, zs == zs.sorted))
      }.collect().sortBy(_._1)
    assert(ranges.nonEmpty && ranges.forall(_._4), "each partition must be z-sorted")
    ranges.sliding(2).foreach {
      case Array((_, _, maxA, _), (_, minB, _, _)) =>
        assert(maxA <= minB, s"z-ranges overlap across partitions: $maxA > $minB")
      case _ => ()
    }
  }

  test("layout refuses a NULL key with a message naming the column") {
    import spark.implicits._
    val df = Seq((Some(1L), 2L), (None, 3L)).toDF("x", "y")
    val e = intercept[Exception](ZOrder.layout(df, "x", "y", nFiles = 2).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("ZOrder.layout: key outside [0, 2^21): x=NULL, y=3"), msgs)
  }
}
