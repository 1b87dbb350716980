package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-3-gram shingle keys of a text column as ONE native codegen'd
  * expression: whitespace split → 3-grams joined by single spaces →
  * (with `distinct`) first-seen dedup → each 3-gram keyed by the first 60
  * bits of its md5, as a non-negative long. It computes exactly what the
  * built-in composition split → slices → `arrays_zip` → `concat_ws` →
  * `array_distinct` → `md5` → `substring(…, 1, 15)` → `conv(…, 16, 10)`
  * computed, whose `transform` lambdas Spark interprets per element:
  *   - the split is Java's `\s+` regex with limit −1, so leading
  *     whitespace yields an empty first token and trailing whitespace an
  *     empty last one;
  *   - a text of fewer than 3 tokens is keyed whole (its own bytes);
  *   - a null text yields `[null]`.
  * The 60-bit truncation is engine-portable: DuckDB's
  * `TextQueries.shingleKeysSql` computes the same keys. */
case class ShingleKeysExpr(child: Expression, distinct: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // the composition's nullability, so consumers see an unchanged schema
  // (the value itself is never null)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any =
    ShingleKeysExpr.keys(child.eval(input).asInstanceOf[UTF8String], distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.ShingleKeysExpr.keys(
      |  ${c.isNull} ? null : ${c.value}, $distinct);
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleKeysExpr =
    copy(child = newChild)
}

object ShingleKeysExpr {
  private val Whitespace = Pattern.compile("\\s+")
  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The first 60 bits of md5(`bytes`) — the first 15 hex digits. */
  private def key(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    var k = 0L
    var i = 0
    while (i < 8) { k = (k << 8) | (d(i) & 0xffL); i += 1 }
    k >>> 4
  }

  /** Called from generated code. */
  def keys(text: UTF8String, distinct: Boolean): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Any](null))
    val md = Md5.get()
    val w = Whitespace.split(text.toString, -1)
    if (w.length < 3) return UnsafeArrayData.fromPrimitiveArray(Array(key(md, text.getBytes)))
    val out = new Array[Long](w.length - 2)
    val seen = if (distinct) new java.util.HashSet[String](2 * out.length) else null
    var n = 0
    var i = 0
    while (i < out.length) {
      val sh = w(i) + " " + w(i + 1) + " " + w(i + 2)
      if (seen == null || seen.add(sh)) { out(n) = key(md, sh.getBytes(UTF_8)); n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (n == out.length) out else java.util.Arrays.copyOf(out, n))
  }
}
