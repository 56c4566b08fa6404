package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash document fingerprint (Charikar 2002): a call of the
  * [[SimHash64.compute]] kernel through Spark's `StaticInvoke`, so the
  * interpreted and the generated code make the same static call.
  *
  * Tokenizes on ASCII whitespace and hashes each token to the first 8
  * bytes (big-endian) of its MD5 — equivalently the first 16 hex chars of
  * `md5(token)`, which is exactly what makes the fingerprint
  * ORACLE-EXPRESSIBLE: a SQL engine with only `md5` can regrow every
  * bit-plane vote from hex-digit arithmetic (the x_dedup_simhash DuckDB
  * oracle does). Stable across Spark versions (MD5 is fixed forever).
  * The votes then sign-aggregate the 64 bit-planes. Near-duplicate
  * documents differ in few bits, so candidate pairs come from banding the
  * fingerprint (4×16-bit bands ⇒ any pair within Hamming distance 3 shares
  * at least one full band — pigeonhole) and equi-joining on band values:
  * dedup at 100 TB is then a plain shuffle join on (band_id, band_value),
  * never a cross join.
  *
  * The kernel returns a primitive long with a "no tokens" sentinel; the
  * expression calls [[SimHash64.computeOrNull]], where the sentinel
  * becomes null.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override lazy val replacement: Expression =
    StaticInvoke(SimHash64.getClass, LongType, "computeOrNull", Seq(child))

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** Signals "no tokens" from the primitive-returning hot loop: a
    * token-less document has NO votes, so its fingerprint is undefined —
    * a null, not the all-zero word (fp = 0 would band every empty/
    * whitespace-only document into one giant candidate bucket that a
    * token-based SQL oracle, which produces no rows for such documents,
    * can never reproduce). The one real fingerprint equal to the
    * sentinel (bit 63 alone set) is remapped to sentinel+1 — a 1-bit
    * perturbation, the [[SignSignature.NullSentinel]] precedent — and
    * the x_dedup_simhash DuckDB oracle mirrors exactly this flip (its
    * `sent` CTE) before banding and Hamming, so the remap is
    * hash-gate-checked, not a documented divergence. */
  def NullSentinel: Long = Long.MinValue

  // one MessageDigest per thread: getInstance per token would dominate
  // the hash itself; MD5 instances are not thread-safe but are reusable
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of MD5(token bytes), big-endian — the long whose hex
    * rendering is `substr(md5(token), 1, 16)`. */
  private def md5Head64(bytes: Array[Byte], from: Int, until: Int): Long = {
    val m = md5Local.get()
    m.reset()
    m.update(bytes, from, until - from)
    val d = m.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Whitespace-tokenize + sign-aggregate per bit plane. */
  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    val counts = new Array[Int](64)
    var tokens = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      val start = i
      while (i < n && !isSpace(bytes(i))) i += 1
      if (i > start) {
        tokens += 1
        val h = md5Head64(bytes, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    if (tokens == 0) return NullSentinel
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    if (out == NullSentinel) NullSentinel + 1 else out
  }

  /** [[compute]] with its sentinel as null, for the expression. Mapping
    * it inside the call (not with Spark's `NullIf` around it) keeps one
    * kernel call per evaluation: the optimizer copies the expression into
    * the `isnotnull` filters it infers, and `NullIf`'s shared value does
    * not survive that copy, so the filter would run the kernel twice. */
  def computeOrNull(text: UTF8String): java.lang.Long = {
    val fp = compute(text)
    if (fp == NullSentinel) null else fp
  }

  /** RE2's `\s` class — `[\t\n\f\r ]`, NO vertical tab. The parity
    * partner for every fingerprint is the DuckDB oracle, whose regex
    * engine is RE2; Java's `\s` additionally matches 0x0B, so matching
    * Java here would tokenize a `\v`-bearing document differently from
    * the oracle and silently break the hash gate on exactly that input. */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f'

  def apply(c: Column): Column =
    ColumnBridge.toColumn(SimHash64(ColumnBridge.toExpr(c)))
}
