package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature of a shingle set (`Dedup.minHashSigRow`):
  * element i is the minimum over the set's shingles of
  * `h_i = pmod(base·(2i+1) + i·40503, 2^31 − 1)`, where `base` is the
  * md5 prefix hash of the shingle (`TextFunctions.md5Int(sh, 8)`).
  *
  * The built-in compositions computed this either as `numHashes`
  * `array_min(transform(...))` lambdas, each re-hashing every shingle
  * with md5, or by exploding every shingle into 64 `min` aggregates
  * behind a shuffle. This expression hashes each shingle once and runs
  * the affine family in one loop, in whole-stage codegen.
  *
  * Bit-identical to both compositions: null elements are skipped, as
  * `min` and `array_min` skip them, and a set with no non-null element
  * (empty, all-null, or a null array) gives `numHashes` nulls, as
  * `array_min` does. Never null itself. The family runs as exact
  * modular arithmetic: `base·(2i+1) + i·40503 = base + i·(2·base +
  * 40503)`, so h_i steps by `(2·base + 40503) mod p` with no division.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= MinHashSignature.MaxHashes,
    s"numHashes must be in [1, ${MinHashSignature.MaxHashes}], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def eval(input: InternalRow): Any =
    MinHashSignature.sign(child.eval(input).asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.expressions.MinHashSignature.sign(${c.isNull} ? null : ${c.value}, $numHashes);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** 2^31 − 1, the family's modulus. */
  private val P = 2147483647L

  /** Keeps `base·(2i+1) + i·40503` (base < 2^32) far inside a long, as
    * the SQL form needs under ANSI overflow checks. */
  val MaxHashes = 1024

  /** The MinHash signature of `set` (see [[MinHashSignature]]).
    * Public + static-shaped so generated code can call it. */
  def sign(set: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    if (set != null) {
      var j = 0
      while (j < set.numElements()) {
        if (!set.isNullAt(j)) {
          any = true
          val base = Md5PrefixLong.hash(set.getUTF8String(j), 8)
          val step = (2 * base + 40503L) % P
          var h = base % P
          var i = 0
          while (i < numHashes) {
            if (h < mins(i)) mins(i) = h
            h += step
            if (h >= P) h -= P
            i += 1
          }
        }
        j += 1
      }
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](numHashes))
  }
}
