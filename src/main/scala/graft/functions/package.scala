package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.{graftshim => ExpressionUtils}
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine (SURVEY §2.2/§2.4).
  * Everything here is either a native Catalyst expression or a composition
  * of built-in codegen'd functions — no Scala UDFs on hot paths.
  */
package object functions {

  /** Exponential size bucket (HFSA SizeBucket semantics). */
  def size_bucket(c: Column): Column =
    ExpressionUtils.column(SizeBucketExpr(ExpressionUtils.expression(c.cast("long"))))

  /** Upper byte border of a size bucket: 0, 1 MiB, 2 MiB, 4 MiB, ... */
  def bucket_upper(bucket: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, ShiftLeft}
    when(bucket <= 0, lit(0L)).otherwise(ExpressionUtils.column(
      ShiftLeft(Literal(1L), ExpressionUtils.expression(bucket + 19))))
  }

  /** IEC binary formatting: 1536 → "2 KiB" (HFSA IECBinary semantics). */
  def iec_format(c: Column): Column =
    ExpressionUtils.column(IecFormatExpr(ExpressionUtils.expression(c.cast("long"))))

  /** IEC binary parsing: "123 KiB" → 125952. */
  def iec_parse(c: Column): Column =
    ExpressionUtils.column(IecParseExpr(ExpressionUtils.expression(c)))

  /** Integer cents: floor(x*100) as bigint — exact, order-independent sums. */
  def cents(c: Column): Column = floor(c * 100).cast("long")

  /** Unicode NFC canonicalization (DuckDB `nfc_normalize` twin). */
  def nfc_normalize(c: Column): Column = NormalizeNfcExpr(c)

  /** Raw (unhashed) word-3gram shingles. Built from zipped slices — the
    * whitespace split stays OUTSIDE the lambda, so codegen subexpression
    * elimination evaluates the regex split O(1) times per document instead
    * of 3× per shingle (a ~30× win on the shingle-join dedup path). */
  def word_shingles_raw(text: Column): Column = {
    val w = split(text, "\\s+")
    val n = size(w)
    when(n >= 3,
      transform(arrays_zip(slice(w, lit(1), n - 2), slice(w, lit(2), n - 2), slice(w, lit(3), n - 2)),
        s => concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2"))))
      .otherwise(array(text))
  }

  /** md5'd word-3gram shingles (hex strings). */
  def word_shingles(text: Column): Column =
    transform(word_shingles_raw(text), s => md5(s))

  /** Ordered word-3gram shingle keys with duplicates KEPT (the
    * [[word_shingle_keys]] 60-bit hash recipe without the distinct) —
    * for position-sensitive consumers like winnowing, where the k-th
    * shingle's identity matters, not just set membership. */
  def word_shingle_seq(text: Column): Column =
    ExpressionUtils.column(ShingleKeysExpr(ExpressionUtils.expression(text), distinct = false))

  /** DISTINCT word-3gram shingles as 60-bit longs: the raw 3-grams are
    * deduped (first-seen order) BEFORE hashing, so md5 runs once per
    * distinct shingle, not per occurrence — repetitive corpora repeat
    * shingles heavily; each key is md5 truncated to 15 hex chars. Everything
    * downstream that shuffles, sorts, or joins on a shingle key moves
    * 8-byte longs instead of 32-char hex strings — a 4× cut in key bytes on
    * the dedup self-joins. The truncation is engine-portable (DuckDB
    * `CAST('0x' || substr(md5(…),1,15) AS BIGINT)`), so any truncation
    * collision happens identically in the oracle and hash checks stay
    * exact. One native expression ([[ShingleKeysExpr]]): the equivalent
    * built-in composition over [[word_shingles_raw]] has Spark interpret
    * its `transform` lambdas per element. */
  def word_shingle_keys(text: Column): Column =
    ExpressionUtils.column(ShingleKeysExpr(ExpressionUtils.expression(text), distinct = true))
}
