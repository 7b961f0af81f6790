package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingles: the distinct `n`-token shingles of a
  * document, each the tokens joined by one space, in first-occurrence
  * order (`Dedup.shingles`).
  *
  * The built-in composition
  * `array_distinct(transform(sequence(0, size(toks) - n), i ->
  * concat_ws(' ', slice(toks, i + 1, n))))` references the token array
  * inside its lambda, and Spark re-evaluates that expression for every
  * shingle position: each document is re-split once per shingle, a
  * quadratic, and the lambda runs outside whole-stage codegen. This
  * expression splits once and emits the shingles in one linear pass.
  *
  * Bit-identical to the composition over
  * `TextFunctions.tokens` = `split(trim(text), '\\s+')`, for every
  * input:
  *  - `trim` removes U+0020 only, at both ends;
  *  - tokens are split on runs of Java `\s` (`[ \t\n\x0B\f\r]`, all
  *    single ASCII bytes) with Spark's limit -1, so a leading tab gives
  *    an empty first token and a trailing one an empty last token;
  *  - fewer than `n` tokens give one shingle, the whole sequence;
  *  - text that is empty after trimming, and null text, give `[""]`;
  *  - malformed UTF-8 is first decoded and re-encoded as Spark's
  *    `split` does (each malformed sequence becomes U+FFFD).
  * Never null.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be at least 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingles requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_word_shingles"

  override def eval(input: InternalRow): Any =
    WordShingles.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.expressions.WordShingles.shingles(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  /** Java `\s`: the bytes 0x20 and 0x09-0x0D. */
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  private def single(s: UTF8String): ArrayData = new GenericArrayData(Array[Any](s))

  /** The distinct word `n`-grams of `text` (see [[WordShingles]]).
    * Public + static-shaped so generated code can call it. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return single(UTF8String.EMPTY_UTF8)
    var t = text.trim()
    if (t.numBytes == 0) return single(UTF8String.EMPTY_UTF8)
    if (!t.isValid) t = UTF8String.fromString(t.toString)
    val bytes = t.getBytes
    val len = bytes.length
    // token i spans bytes [from(i), to(i)); a run of spaces ends one
    // token and starts the next, so edge runs give empty edge tokens
    var from = new Array[Int](16)
    var to = new Array[Int](16)
    var count = 0
    def add(s: Int, e: Int): Unit = {
      if (count == from.length) {
        from = java.util.Arrays.copyOf(from, count * 2)
        to = java.util.Arrays.copyOf(to, count * 2)
      }
      from(count) = s; to(count) = e; count += 1
    }
    var start = 0
    var i = 0
    while (i < len) {
      if (isSpace(bytes(i))) {
        add(start, i)
        while (i < len && isSpace(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    add(start, len)

    // tokens [first, first + k) joined by single spaces
    def joined(first: Int, k: Int): UTF8String = {
      var size = k - 1
      var j = first
      while (j < first + k) { size += to(j) - from(j); j += 1 }
      val out = new Array[Byte](size)
      var pos = 0
      j = first
      while (j < first + k) {
        if (j > first) { out(pos) = ' '; pos += 1 }
        val w = to(j) - from(j)
        System.arraycopy(bytes, from(j), out, pos, w)
        pos += w
        j += 1
      }
      UTF8String.fromBytes(out)
    }

    if (count < n) single(joined(0, count))
    else {
      val seen = new java.util.HashSet[UTF8String]()
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var p = 0
      while (p <= count - n) {
        val sh = joined(p, n)
        if (seen.add(sh)) out += sh
        p += 1
      }
      new GenericArrayData(out.toArray)
    }
  }
}
