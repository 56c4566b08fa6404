package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The k-permutation MinHash signature of a document's word-n-gram
  * shingle set, fused into ONE native pass — the composed form
  * (explode shingles → k `min` aggregates) materializes a posting row
  * per shingle and pays a groupBy Exchange to reassemble per-document
  * rows; this computes the same k minima in a per-row loop, so the
  * signature stage is map-side only (measured 2.4× on the full
  * x_dedup_minhash at sf0.1, and at 100 TB it deletes a whole shuffle
  * of |postings| rows).
  *
  * Bit-identical to the composed definition the DuckDB oracle replays:
  * shingle value x = integer of the first 8 hex chars of md5(gram) mod
  * P (P = 2³¹−1), h_i(x) = (a_i·x + b_i) mod P with the seeded
  * [[MinHashSig.perms]] constants, signature i = min over the shingle
  * MULTISET (min over multiset = min over set, so no dedup pass).
  * Tokenization is maximal runs of non-whitespace bytes under RE2's
  * `\s` class (the oracle's regex engine — see [[SimHash64]].isSpace).
  *
  * Documents with fewer than n tokens have no shingles and therefore no
  * signature: null (callers filter, mirroring the oracle's
  * `WHERE len(t) >= n`).
  */
case class MinHashSig(child: Expression, k: Int, n: Int, seed: Long)
    extends UnaryExpression with RuntimeReplaceable with ImplicitCastInputTypes {

  require(k >= 1, s"signature length must be >= 1, got $k")
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override lazy val replacement: Expression = StaticInvoke(MinHashSig.getClass,
    dataType, "compute", Seq(child, Literal(k), Literal(n), Literal(seed)))

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Modulus of the permutation family: 2³¹−1 (Mersenne prime). x < P
    * and a < P keep a·x + b under 2⁶² — no 64-bit overflow here, no
    * BIGINT overflow in the oracle. */
  val P: Long = 2147483647L

  /** The seeded linear permutations, flattened [a₀, b₀, a₁, b₁, …] —
    * a_i ∈ [1, P−1] (injective on Z_P), b_i ∈ [0, P). Deterministic in
    * (k, seed) alone, so the oracle generator serializes the identical
    * constants; cached per executor. */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, java.lang.Long), Array[Long]]()

  def perms(k: Int, seed: Long): Array[Long] =
    permCache.computeIfAbsent((k, seed), _ => {
      val r = new java.util.SplittableRandom(seed)
      val out = new Array[Long](2 * k)
      var i = 0
      while (i < k) {
        out(2 * i) = 1L + r.nextLong(P - 1)
        out(2 * i + 1) = r.nextLong(P)
        i += 1
      }
      out
    })

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** RE2's `\s` class — `[\t\n\f\r ]`, no vertical tab: the DuckDB
    * oracle's regex engine is RE2, and the oracle is the parity partner
    * (SimHash64.isSpace carries the full reasoning). */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f'

  def compute(text: UTF8String, k: Int, n: Int, seed: Long): ArrayData = {
    val bytes = text.getBytes
    val nb = bytes.length
    // token boundaries (start, end) of maximal non-space runs
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < nb) {
      while (i < nb && isSpace(bytes(i))) i += 1
      val s = i
      while (i < nb && !isSpace(bytes(i))) i += 1
      if (i > s) { starts.add(s); ends.add(i) }
    }
    val nTok = starts.size()
    if (nTok < n) return null
    val pm = perms(k, seed)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = md5Local.get()
    val space = ' '.toByte
    var g = 0
    while (g + n <= nTok) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(space)
        md.update(bytes, starts.get(g + j), ends.get(g + j) - starts.get(g + j))
        j += 1
      }
      val d = md.digest()
      // first 8 hex chars of the digest = first 4 bytes, big-endian
      val x = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % P
      var p = 0
      while (p < k) {
        val v = (pm(2 * p) * x + pm(2 * p + 1)) % P
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      g += 1
    }
    new GenericArrayData(mins)
  }

  def apply(c: Column, k: Int, n: Int = 3, seed: Long = 42L): Column =
    ColumnBridge.toColumn(MinHashSig(ColumnBridge.toExpr(c), k, n, seed))
}
