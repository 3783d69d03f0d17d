package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken) of a normalized
  * string as ONE native pass: rolling char-`k`-gram md5 hashes (first 8
  * hex digits as a long — bit-identical to
  * `conv(substring(md5(substr(t,i,k) :: binary), 1, 8), 16, 10)`),
  * per-`w`-window minima via a monotonic deque, distinct minima in
  * first-occurrence order (mirroring `array_distinct`).
  *
  * Replaces the `transform(sequence(...), i -> md5(substr...))` lambda
  * chain, which Catalyst evaluates interpreted per element with a fresh
  * substring + hex string per gram — this expression does the whole
  * document in compiled JVM code with a thread-local digest. The md5
  * math is unchanged, so the DuckDB oracle mirror still matches
  * hash-for-hash. Empty result below the k+w−1 length floor, exactly
  * like the guarded column form.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      // k/w are user-supplied via the SQL registration: w < 1 would
      // bypass the length floor and let the deque evict the index it
      // just pushed (stale-slot reads / AIOOBE), k < 1 gives empty grams
      case _ if k < 1 || w < 1 => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps requires k >= 1 and w >= 1, got k=$k, w=$w")
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects a string column, got $t")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    val n = t.numChars()
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val m = n - k + 1
    val md = digest.get()
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      // UTF8String.substring is code-point based — the same semantics
      // Column.substr / the SQL oracle's substr use
      md.reset()
      md.update(t.substring(i, i + k).getBytes)
      val d = md.digest()
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    // sliding-window minima, monotonic deque, O(m)
    val deque = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail) holds candidate indices
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
      deque(tail) = j; tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) out.add(hs(deque(head)))
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}
