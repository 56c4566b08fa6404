package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken —
  * SIGMOD'03): polynomial rolling hash over character k-grams, keeping
  * the minimum hash of each sliding window of w consecutive k-gram
  * hashes (rightmost minimum, per the paper). The selected hash set is a
  * position-independent fingerprint: any shared substring of length ≥
  * w + k - 1 between two documents contributes at least one common
  * fingerprint value — the guarantee threshold.
  *
  * Emitted as a sorted, deduplicated array<long>; containment between
  * two documents' fingerprints is `size(array_intersect(a, b)) /
  * size(a)` with builtins, and at scale fingerprints feed the same
  * hashed inverted-index join as the shingle path (explode → equi-join),
  * never a cross join.
  */
case class Winnow(child: Expression, k: Int, window: Int)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprint"

  override lazy val replacement: Expression = StaticInvoke(Winnow.getClass,
    dataType, "compute", Seq(child, Literal(k), Literal(window)))

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  private final val Base = 1000003L

  /** Rolling-hash + window-minimum selection over the raw UTF-8 bytes. */
  def compute(text: UTF8String, k: Int, window: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    // k-gram rolling hashes: h(i+1) = (h(i) - b(i)*Base^(k-1)) * Base + b(i+k)
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var pow = 1L
    var j = 1
    while (j < k) { pow *= Base; j += 1 }
    var h = 0L
    var i = 0
    while (i < k) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - (bytes(i - 1) & 0xffL) * pow) * Base + (bytes(i + k - 1) & 0xffL)
      hashes(i) = h
      i += 1
    }
    if (nGrams <= window)
      return new GenericArrayData(Array(hashes.min))
    // winnow: rightmost minimum per window of `window` consecutive hashes
    val selected = new java.util.TreeSet[java.lang.Long]()
    var w = 0
    while (w + window <= nGrams) {
      var minIdx = w
      var x = w
      while (x < w + window) {
        if (hashes(x) <= hashes(minIdx)) minIdx = x
        x += 1
      }
      selected.add(hashes(minIdx))
      w += 1
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  def apply(c: Column, k: Int = 5, window: Int = 4): Column =
    ColumnBridge.toColumn(Winnow(ColumnBridge.toExpr(c), k, window))
}
