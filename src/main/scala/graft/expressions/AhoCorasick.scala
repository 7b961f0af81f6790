package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho-Corasick automaton: one pass over the text matching EVERY
  * pattern simultaneously, overlapping occurrences included (the
  * dictionary-suffix links report "aa" twice in "aaa"). Built once on
  * the driver, shipped as a codegen reference object — the per-row
  * cost is O(chars + matches) REGARDLESS of pattern count, which is
  * the whole point: a 10k-term blocklist scan at 100 TB is one corpus
  * pass, not 10k regexp passes. */
final class AcAutomaton(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty strings")

  // trie over UTF-16 chars (patterns and corpus are code-point-safe as
  // long as patterns don't split surrogate pairs — BMP patterns only)
  private val children =
    scala.collection.mutable.ArrayBuffer(new java.util.HashMap[Char, Integer]())
  private val ownOut = scala.collection.mutable.ArrayBuffer(-1)
  patterns.zipWithIndex.foreach { case (p, pi) =>
    var st = 0
    p.foreach { c =>
      val nxt = children(st).get(c)
      if (nxt == null) {
        children += new java.util.HashMap[Char, Integer]()
        ownOut += -1
        children(st).put(c, children.length - 1)
        st = children.length - 1
      } else st = nxt.intValue
    }
    require(ownOut(st) == -1, s"duplicate pattern: $p")
    ownOut(st) = pi
  }
  private val n = children.length
  private val fail = new Array[Int](n)
  // aggregated output per node: pattern indices ending here, own first
  // then via the fail chain (computed in BFS order, so fail(v)'s list
  // is final when v is processed)
  private val out: Array[Array[Int]] = new Array[Array[Int]](n)
  locally {
    out(0) = Array.emptyIntArray
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).forEach { (_, v0) =>
      val v = v0.intValue
      fail(v) = 0
      out(v) = if (ownOut(v) >= 0) Array(ownOut(v)) else Array.emptyIntArray
      queue.add(v0)
    }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue
      children(u).forEach { (c, v0) =>
        val v = v0.intValue
        var f = fail(u)
        while (f != 0 && children(f).get(c) == null) f = fail(f)
        val t = children(f).get(c)
        fail(v) = if (t != null && t.intValue != v) t.intValue else 0
        out(v) =
          (if (ownOut(v) >= 0) Array(ownOut(v)) else Array.emptyIntArray) ++
            out(fail(v))
        queue.add(v0)
      }
    }
  }

  /** All-occurrence count per pattern (overlaps included). */
  def countAll(text: String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var st = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      var cur = st
      while (cur != 0 && children(cur).get(c) == null) cur = fail(cur)
      val t = children(cur).get(c)
      st = if (t != null) t.intValue else 0
      val os = out(st)
      var k = 0
      while (k < os.length) { counts(os(k)) += 1; k += 1 }
      i += 1
    }
    counts
  }
}

/** `graft_ac_counts(text)` with a literal pattern table: array<long>
  * of all-occurrence counts, index-aligned with `patterns`. */
case class MultiPatternCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ac_counts requires a string input, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ac_counts"

  @transient private lazy val ac = new AcAutomaton(patterns.toArray)

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(ac.countAll(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("acAutomaton", ac,
      classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $acRef.countAll($c.toString()));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiPatternCounts =
    copy(child = newChild)
}
