package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Random-hyperplane sign signature (Charikar, STOC'02), a call of the
  * [[SignSignature.compute]] kernel through Spark's `StaticInvoke`: bit p
  * of the result long is `sign(<embedding, plane_{p + planeOffset}>)`. Hyperplane component h
  * of plane p is a deterministic splitmix64-mixed value in [-0.5, 0.5)
  * derived from (p, h) alone — stable across runs, partitions, and
  * executors with no RNG state to ship; `planeOffset` selects a disjoint
  * plane family so multi-word signatures (> 64 planes) compose.
  *
  * Replaces the equivalent `transform`/`zip_with`/`aggregate`
  * higher-order-function pipeline, whose per-element lambdas evaluate
  * interpreted: at 128 planes × 64 dims that is ~400 interpreted calls
  * per row vs one static-method call here (plane weights are computed
  * once per (nPlanes, planeOffset, dims) per executor and cached; the
  * hot loop is a flat fused multiply-add over a primitive array).
  *
  * Null handling: a null array yields null (the call propagates null); a
  * null ELEMENT yields a null signature (the dot against a missing
  * component is undefined — mirrors SQL aggregate-over-null semantics
  * rather than silently reading garbage). The kernel returns a primitive
  * long, so it signals a null signature with [[SignSignature.NullSentinel]];
  * the expression calls [[SignSignature.computeOrNull]], where the
  * sentinel becomes null.
  *
  * `expectedDims`: an index has ONE dimensionality — when configured
  * (≥ 1), a row whose embedding has any other length gets a null
  * signature instead of a signature from a differently-sized plane
  * table. That makes the engine agree with a fixed-width oracle BY
  * CONSTRUCTION on mixed-dim corpora (an oracle's literal plane table
  * has one width; adaptively-signed stragglers would stay in Spark's
  * buckets while dropping from the oracle's). The default (-1) keeps the
  * adaptive behavior for exploratory use. */
case class SignSignature(child: Expression, nPlanes: Int, planeOffset: Int,
    expectedDims: Int = -1)
    extends UnaryExpression with RuntimeReplaceable {

  require(nPlanes >= 1 && nPlanes <= 64,
    s"one sign-signature word holds at most 64 planes, got $nPlanes")
  // upper bound matches the 20-bit field the weight-cache key packs the
  // offset into (SignSignature.weights) — beyond it keys would collide
  // silently and serve the wrong hyperplane table
  require(planeOffset >= 0 && planeOffset < (1 << 20),
    s"plane offset must be in [0, 2^20), got $planeOffset")
  require(expectedDims == -1 || (expectedDims >= 1 && expectedDims < (1 << 20)),
    s"expectedDims must be -1 (adaptive) or in [1, 2^20), got $expectedDims")

  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${t.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_signature"

  override lazy val replacement: Expression =
    StaticInvoke(SignSignature.getClass, LongType, "computeOrNull", Seq(child,
      Literal(nPlanes), Literal(planeOffset), Literal(elemIsDouble), Literal(expectedDims)))

  override protected def withNewChildInternal(newChild: Expression): SignSignature =
    copy(child = newChild)
}

object SignSignature {

  /** Signals "null element seen" from the primitive-returning hot loop.
    * Unreachable as a real signature: with nPlanes ≤ 64 bits set only in
    * the low `nPlanes` positions, Long.MinValue (bit 63 alone) can only
    * be produced by a 64-plane signature whose OTHER 63 dots are all
    * negative and plane 63's is non-negative — excluded by reserving it:
    * compute() maps that one real signature to Long.MinValue + 1 (one
    * sign flip on plane 0, statistically indistinguishable for LSH). */
  def NullSentinel: Long = Long.MinValue

  /** plane-weight tables, one per (nPlanes, planeOffset, dims), built
    * once per executor JVM and shared across tasks */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def weights(nPlanes: Int, off: Int, dims: Int): Array[Double] = {
    // the key packs off into bits 20..39 and dims into bits 0..19; an
    // out-of-range value would alias another entry's key and silently
    // serve the wrong hyperplane table (off is already constructor-
    // checked; dims arrives from data, so it must be checked here)
    require(off >= 0 && off < (1 << 20) && dims >= 1 && dims < (1 << 20),
      s"weight-cache key fields out of range: off=$off dims=$dims")
    val key = (nPlanes.toLong << 40) | (off.toLong << 20) | dims.toLong
    var w = cache.get(key)
    if (w == null) {
      w = new Array[Double](nPlanes * dims)
      var p = 0
      while (p < nPlanes) {
        var h = 0
        while (h < dims) {
          // deterministic in (global plane index, component) only
          val bits = mix64(((p + off).toLong << 32) | h.toLong)
          // top 53 bits → [0, 1) → [-0.5, 0.5)
          w(p * dims + h) = (bits >>> 11) * 1.1102230246251565e-16 - 0.5
          h += 1
        }
        p += 1
      }
      cache.putIfAbsent(key, w)
    }
    w
  }

  /** The hyperplane table as per-plane rows — the exact doubles
    * [[compute]] multiplies against. Public so an oracle generator can
    * bake the planes into SQL literals (Double.toString round-trips
    * through a correctly-rounded parser, so the oracle engine sees
    * bit-identical weights and reproduces every signature bit). */
  def planeWeights(nPlanes: Int, planeOffset: Int, dims: Int): Array[Array[Double]] = {
    val flat = weights(nPlanes, planeOffset, dims)
    Array.tabulate(nPlanes)(p => flat.slice(p * dims, (p + 1) * dims))
  }

  def compute(a: ArrayData, nPlanes: Int, off: Int, isDouble: Boolean,
      expectedDims: Int = -1): Long = {
    val n = a.numElements()
    // empty embedding → null signature: every dot is vacuously 0, which
    // would yield the all-set degenerate signature (one giant LSH bucket
    // if a malformed embedder emits many empties); same undefined-input
    // treatment as a null element, and it keeps weights()'s dims >= 1
    // cache-key guard unreachable from data instead of a task-killer
    if (n == 0) return NullSentinel
    // configured index width: any other dimensionality is undefined input
    // (null signature), never a signature from a different plane table
    if (expectedDims != -1 && n != expectedDims) return NullSentinel
    var i = 0
    while (i < n) { // null element → null signature, never garbage reads
      if (a.isNullAt(i)) return NullSentinel
      i += 1
    }
    val w = weights(nPlanes, off, n)
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      val base = p * n
      var h = 0
      while (h < n) {
        val x = if (isDouble) a.getDouble(h) else a.getFloat(h).toDouble
        dot += x * w(base + h)
        h += 1
      }
      if (dot >= 0) sig |= 1L << p
      p += 1
    }
    if (sig == NullSentinel) NullSentinel + 1 else sig
  }

  /** [[compute]] with its sentinel as null, for the expression (one
    * kernel call per evaluation; [[SimHash64.computeOrNull]] says why). */
  def computeOrNull(a: ArrayData, nPlanes: Int, off: Int, isDouble: Boolean,
      expectedDims: Int): java.lang.Long = {
    val sig = compute(a, nPlanes, off, isDouble, expectedDims)
    if (sig == NullSentinel) null else sig
  }

  /** `sign_signature(embedding, nPlanes, planeOffset)` as a Column;
    * `expectedDims` pins the index dimensionality (see class doc). */
  def of(col: Column, nPlanes: Int, planeOffset: Int = 0,
      expectedDims: Int = -1): Column =
    ColumnBridge.toColumn(
      SignSignature(ColumnBridge.toExpr(col), nPlanes, planeOffset, expectedDims))
}
