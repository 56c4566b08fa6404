package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-n-gram shingle hashes in ONE pass — the fused form of
  *
  *   array_distinct(transform(<n-gram strings from split(text,"\s+")>,
  *                            sh => xxhash64(sh)))
  *
  * producing BIT-IDENTICAL hashes (same whitespace tokenization, same
  * space-joined shingle bytes, same XXH64 seed 42 as the `xxhash64`
  * built-in), so every DuckDB oracle over string shingles keeps
  * matching. What it deletes is the intermediate work the composed
  * column form pays per document: materializing the token array, the
  * n-gram string array, and the distinct string array before hashing —
  * the dedup operators only ever consume the hashes.
  *
  * Documents with fewer than n tokens yield an empty array (the composed
  * form filters them out before shingling; explode of an empty array
  * drops the row identically).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override lazy val replacement: Expression = StaticInvoke(ShingleHashes.getClass,
    dataType, "compute", Seq(child, Literal(n)))

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  // compiled once: compute() runs per ROW, and String.split("\\s+")
  // compiles a fresh Pattern per call (no single-char fast path)
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Mirrors `filter(split(text, "\s+"), _.nonEmpty)` + n-gram +
    * `xxhash64` (seed 42) + first-occurrence distinct. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = ws.split(text.toString).filter(_.nonEmpty)
    if (words.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= words.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  def apply(c: Column, n: Int = 3): Column =
    ColumnBridge.toColumn(ShingleHashes(ColumnBridge.toExpr(c), n))
}
