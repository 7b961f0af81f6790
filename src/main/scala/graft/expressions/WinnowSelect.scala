package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing selection over one text chunk: the distinct
  * rolling-window minima of the per-position `md5Int(substr(t, i,
  * gram), 10) * 2^23 + i` encodings — exactly the builtin composition
  * kept as the test reference (explode positions → hash → window min →
  * distinct), folded into ONE pass per row.
  *
  * Why it exists: the builtin form explodes O(total-chars) rows, pays
  * a full 32-hex-char md5 pipeline per position, and shuffles the
  * whole exploded stream through a `Window.partitionBy(id, chunk)`
  * exchange just to take a 10-row rolling min — the single largest
  * shuffle in the engine (q85/q102). This expression walks the chunk
  * with a reused MessageDigest (indexing straight into the byte array
  * when the chunk is pure ASCII — no per-position substring), keeps a
  * monotonic deque for the clipped sliding minimum, and emits only the
  * ~2/window-density selected encodings. No explode, no exchange, same
  * bits.
  *
  * Bit-identical by construction: the hash is [[Md5PrefixLong]]'s
  * 10-hex-digit value (digest bytes shifted, no hex string), the
  * window is `rowsBetween(0, window-1)` clipped at the chunk tail, and
  * the `+ i` term makes every encoding unique so distinct-ness and min
  * ties cannot diverge from the SQL form. The 23-bit position field
  * (multiplier 2^23 = 8388608) is the `winnowedDupPairs` chunk
  * contract; the array preserves first-occurrence order (consumers
  * treat it as a set).
  */
case class WinnowSelect(child: Expression, gram: Int, window: Int)
    extends UnaryExpression {
  require(gram > 0 && window > 0, "gram and window must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.select(input.asInstanceOf[UTF8String], gram, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.WinnowSelect.select($c, $gram, $window);")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Distinct clipped-sliding-window minima of the position encodings
    * (first-occurrence order). Public + static-shaped so generated
    * code can call it.
    *
    * Memory is O(window) + O(selected): hashing is FUSED into the
    * forward walk and the monotonic deque is a `window`-slot ring of
    * (index, encoding) pairs — never an O(chunk) buffer, which at the
    * 2^23-char chunk bound would have transiently allocated ~100 MB
    * per in-flight row. */
  def select(t: UTF8String, gram: Int, window: Int): ArrayData = {
    val n = t.numChars - gram + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val md = digests.get()
    // ASCII chunks (the overwhelming case) hash straight out of the
    // byte array; multibyte falls back to the SQL substring semantics
    // (character positions), matching substr() exactly
    val ascii = t.numBytes == t.numChars
    val bytes = if (ascii) t.getBytes else null
    def encAt(i: Int): Long = {
      md.reset()
      val h =
        if (ascii) { md.update(bytes, i, gram); md.digest() }
        else md.digest(t.substringSQL(i + 1, gram).getBytes)
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
      // 10 hex digits = leading 40 bits; encode position 1-based in
      // the low 23-bit field (the winnowedDupPairs contract)
      (v >>> 24) * 8388608L + (i + 1)
    }
    // monotonic deque over forward windows [i, i+window-1] clipped at
    // the tail: a circular ring of at most `window` (index, enc) pairs
    val dqi = new Array[Int](window)
    val dqv = new Array[Long](window)
    var head = 0
    var cnt = 0
    def pushBack(j: Int, v: Long): Unit = {
      while (cnt > 0 && dqv((head + cnt - 1) % window) >= v) cnt -= 1
      dqi((head + cnt) % window) = j
      dqv((head + cnt) % window) = v
      cnt += 1
    }
    def dropFrontBefore(i: Int): Unit =
      while (dqi(head) < i) { head = (head + 1) % window; cnt -= 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Long]
    var last = Long.MinValue
    val seen = new java.util.HashSet[java.lang.Long]
    def emit(m: Long): Unit = {
      // runs of the same minimum dominate; the cheap `last` check
      // short-circuits the set for them
      if (m != last && seen.add(m)) out += m
      last = m
    }
    var j = 0
    while (j < n) {
      // evict the stale front BEFORE inserting: with strictly
      // increasing encodings the deque holds `window` live entries at
      // step j, and push-first would wrap the ring onto its own head
      if (j >= window) dropFrontBefore(j - window + 1)
      pushBack(j, encAt(j))
      if (j >= window - 1) emit(dqv(head)) // full window [j-window+1, j]
      j += 1
    }
    // tail windows [i, n-1] for i past the last full-window start
    var i = math.max(0, n - window + 1)
    while (i < n) {
      dropFrontBefore(i)
      emit(dqv(head))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
