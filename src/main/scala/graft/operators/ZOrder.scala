package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout — the data-layout lever for multi-dimensional
  * scan pruning at 100 TB (Morton 1966; the clustering idea behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`): interleave the bits of two sort
  * keys so rows close in BOTH dimensions land in the same file, and a
  * parquet reader's row-group min/max statistics can skip most files for
  * a 2-D box predicate. A lexicographic (natural) sort clusters only the
  * leading key: a filter on the second key touches EVERY file.
  *
  * Everything here is integer bit math (shift/and/or) — codegen'd on the
  * Spark side and bit-identical in DuckDB, so the pruning eval
  * (`q_zorder_prune_eval`) is a full oracle row, not a claim.
  */
object ZOrder {

  /** Morton-interleave two non-negative integral columns (`bits` low bits
    * each, default 21 → a 42-bit z in a long): bit i of x lands at 2i,
    * bit i of y at 2i+1. Inputs ≥ 2^bits fold their high bits away —
    * callers own the range contract (same posture as Triangles' packed
    * key, enforced there by a runtime guard; here the eval query derives
    * ranges from the data). Pure expression fold — whole-stage codegen,
    * no UDF. */
  def zValue(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"zValue: bits must be in [1,31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(ys, i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The production write path: range-partition the frame on its z-value
    * into `nFiles` output partitions and sort inside each — one range
    * exchange, no global window, no driver materialization; each output
    * partition is a contiguous z-range, which is what makes the written
    * files' min/max statistics selective for both dimensions. Write the
    * result with `.write.parquet(...)` (file i = partition i). */
  def layout(df: DataFrame, xCol: String, yCol: String,
             nFiles: Int, bits: Int = 21): DataFrame = {
    // Range guard (ADVICE r11): zValue silently folds away high bits and
    // mangles negatives, so a caller passing keys outside [0, 2^bits)
    // would get a non-selective layout with no error. Mirror the
    // Triangles packed-key posture with a codegen'd runtime check — the
    // write path refuses out-of-range keys loudly instead of writing a
    // silently useless layout. A NULL key is refused too, and named: it
    // would otherwise turn the whole message into NULL.
    val bound = lit(1L << bits)
    def inRange(c: Column): Column =
      c.cast("long") >= 0L && c.cast("long") < bound
    def shown(c: String): Column = coalesce(col(c).cast("string"), lit("NULL"))
    val z = when(inRange(col(xCol)) && inRange(col(yCol)),
        zValue(col(xCol), col(yCol), bits))
      .otherwise(raise_error(concat(
        lit(s"ZOrder.layout: key outside [0, 2^$bits): $xCol="),
        shown(xCol), lit(s", $yCol="), shown(yCol))))
    df.withColumn("z", z)
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions(col("z"))
  }
}
