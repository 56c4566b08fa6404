package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, NaNvl, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NullType}

/** Cosine similarity between two embedding columns (`array<float>` or
  * `array<double>`, independently per side — no silent narrowing: a
  * double-array caller keeps full precision, the accumulation is always
  * double).
  *
  * A `StaticInvoke` of the [[CosineSimilarity.compute]] kernel rather than
  * a UDF or a `zip_with`/`aggregate` composition: the builtin
  * higher-order-function route allocates a lambda frame per element,
  * while this compiles to one static call on the unsafe array data — the
  * difference is the whole game when scoring billions of candidate pairs
  * in an ANN sweep.
  *
  * Accumulates in double precision, sequentially, as
  * `dot / (sqrt(na) * sqrt(nb))` — bitwise-aligned with the DuckDB oracle
  * (`list_cosine_similarity` over `DOUBLE[]`), verified empirically.
  * Returns null for null/empty/mismatched-length inputs, for a NULL
  * literal argument (NullType is accepted at analysis, SQL-style), and
  * for arrays containing a null element (detected only when the input
  * type declares `containsNull` — the check is compiled out otherwise).
  * The kernel signals "no result" with NaN, which Spark's own `NaNvl`
  * around the call turns into SQL null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with RuntimeReplaceable {

  private def isAccepted(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case NullType => true // NULL literal: result is null, SQL semantics
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isAccepted(left.dataType) && isAccepted(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  private def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override lazy val replacement: Expression =
    // a NULL literal argument has no array class to call the kernel with
    if (left.dataType == NullType || right.dataType == NullType) Literal(null, DoubleType)
    else NaNvl(StaticInvoke(CosineSimilarity.getClass, DoubleType, "compute",
      Seq(left, right, Literal(elemIsDouble(left)), Literal(elemIsDouble(right)),
        Literal(mayHaveNullElems(left)), Literal(mayHaveNullElems(right)))),
      Literal(null, DoubleType))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The kernel both interpreted and generated code call; the
    * element-width and element-nullability flags are plan-time constants
    * (literal arguments of the call, so the JIT drops the dead
    * branches — a `containsNull=false` input pays nothing). NaN signals
    * "no result" (empty, length mismatch, zero-norm vector, or a null
    * element — unsafe array getters would otherwise misread a null slot
    * as garbage and silently skew the similarity). */
  def compute(a: ArrayData, b: ArrayData,
      aDouble: Boolean, bDouble: Boolean,
      aNulls: Boolean, bNulls: Boolean): Double = {
    val n = a.numElements()
    if (n == 0 || n != b.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if ((aNulls && a.isNullAt(i)) || (bNulls && b.isNullAt(i)))
        return Double.NaN
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  def apply(a: Column, b: Column): Column =
    ColumnBridge.toColumn(CosineSimilarity(
      ColumnBridge.toExpr(a), ColumnBridge.toExpr(b)))
}
