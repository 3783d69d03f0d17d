package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Rolling k-token-gram hashes of an `array<string>` column as ONE
  * native O(n) pass — the exact-substring-dedup gram table's hot
  * expression (SubstringDedup). Replaces the
  * `transform(sequence(...), i -> md5(concat_ws(slice(w, i, k))))`
  * form, whose per-position k-token join + digest makes the map side
  * O(n·k) — at a 100 TB corpus that k× matters on the single most
  * data-intensive pipeline stage.
  *
  * Convention (mirrored verbatim by the DuckDB oracle):
  *   - token base hash `th(t)` = first 15 hex chars of md5(t) as a
  *     60-bit integer — one digest per TOKEN, not per gram;
  *   - gram hash pair, for position i (0-based output index):
  *       h1 = Σ_{j=0..k-1} th(t_{i+j}) · B1^{k-1-j}  mod M
  *       h2 = same with B2
  *     with M = 2^61 − 1, B1 = 1000003, B2 = 1000033. Two independent
  *     61-bit polynomial hashes give a 122-bit effective key: like the
  *     md5 key this replaced, collision-free for any realistic corpus
  *     (expected collisions at 10^12 grams ≈ 10^24 / 2^123 ≈ 1e-13),
  *     unlike a single 61-bit key which would start false-positive
  *     marking near 2^30 distinct grams.
  *   - rolling update: H ← (H − th_out·B^{k-1})·B + th_in  (mod M),
  *     O(1) per position after the O(k) seed.
  *
  * Output: `array<struct<h1: long, h2: long>>` of n−k+1 entries, empty
  * below the k-token floor (matching the guarded column form's
  * `sequence(1, 0)` descent trap).
  */
case class RollingGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  import RollingGramHashes._

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _ if k < 1 => TypeCheckResult.TypeCheckFailure(
        s"rolling_gram_hashes requires k >= 1, got k=$k")
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"rolling_gram_hashes expects array<string>, got $t")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
                   StructField("h2", LongType, nullable = false))),
    containsNull = false)

  @transient private lazy val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  // B^(k-1) mod M per base, for the rolling eviction term
  @transient private lazy val bk1 = powmod(B1, k - 1)
  @transient private lazy val bk2 = powmod(B2, k - 1)

  override def nullSafeEval(input: Any): Any = {
    val w = input.asInstanceOf[ArrayData]
    val n = w.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val md = digest.get()
    // one md5 per token: th = first 15 hex chars as u60. A null element
    // hashes as the empty string: the function is registered as a
    // general SQL function over array<string> (containsNull is not
    // constrained), so arbitrary arrays can reach it even though every
    // gram-table call site feeds split() output (never null).
    val th = new Array[Long](n)
    val empty = Array.emptyByteArray
    var i = 0
    while (i < n) {
      md.reset()
      val t = w.getUTF8String(i)
      md.update(if (t == null) empty else t.getBytes)
      val d = md.digest()
      val hi = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
               ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
               ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
               ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      th(i) = hi >>> 4
      i += 1
    }
    val m = n - k + 1
    val out = new Array[Any](m)
    // O(k) seed
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < k) {
      h1 = addmod(mulmod(h1, B1), th(j))
      h2 = addmod(mulmod(h2, B2), th(j))
      j += 1
    }
    out(0) = InternalRow(h1, h2)
    // O(1) roll
    var p = 1
    while (p < m) {
      h1 = addmod(mulmod(submod(h1, mulmod(th(p - 1), bk1)), B1), th(p + k - 1))
      h2 = addmod(mulmod(submod(h2, mulmod(th(p - 1), bk2)), B2), th(p + k - 1))
      out(p) = InternalRow(h1, h2)
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): RollingGramHashes = copy(child = newChild)
}

object RollingGramHashes {
  /** M = 2^61 − 1 (Mersenne prime: mod by shift-and-add, no division). */
  val M: Long = (1L << 61) - 1
  val B1: Long = 1000003L
  val B2: Long = 1000033L

  /** (a·b) mod M for 0 ≤ a, b < M, via the 2^64 ≡ 8 (mod 2^61−1)
    * folding identity on the 128-bit product. */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // a, b < 2^61 ⇒ signed == unsigned
    val lo = a * b
    // product = hi·2^64 + lo_u ≡ 8·hi + (lo >>> 61) + (lo & M)
    var s = (hi << 3) + (lo >>> 61) + (lo & M)
    s = (s & M) + (s >>> 61)
    if (s >= M) s - M else s
  }

  def addmod(a: Long, b: Long): Long = {
    val s = a + b // both < M < 2^61 ⇒ no overflow
    if (s >= M) s - M else s
  }

  def submod(a: Long, b: Long): Long = {
    val s = a - b
    if (s < 0) s + M else s
  }

  def powmod(b: Long, e: Int): Long = {
    var r = 1L; var base = b % M; var ee = e
    while (ee > 0) {
      if ((ee & 1) == 1) r = mulmod(r, base)
      base = mulmod(base, base)
      ee >>= 1
    }
    r
  }

  /** The B^j (mod M) power ladder [B^(k-1), …, B^0] — shared with the
    * DuckDB oracle's literal list so both engines use one source of
    * truth. */
  def powLadder(b: Long, k: Int): Seq[Long] =
    (k - 1) to 0 by -1 map (powmod(b, _))
}
