package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Deterministic md5-derived random hyperplanes shared by the native
  * expression and its built-in test reference composition:
  * weight(seed, plane p, dim d) = md5("seed:p:d") first-8-hex / 2^32 −
  * 0.5 — a symmetric uniform (any symmetric distribution gives valid
  * sign-projection LSH) that, unlike a seeded Gaussian RNG, is
  * reproducible in ANSI SQL, which makes LSH bucket assignments — and
  * therefore the ANN/near-dup query output — oracle-verifiable. */
object LshPlanes {
  def planes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$p:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
}

/** Native banded sign-LSH bucket computation over an `array<double>`
  * vector: returns `array<long>` with one bucket id per band, where bit
  * p of band b = sign(vec · plane(seed+b, p)).
  *
  * The built-in composition (per-plane `aggregate(zip_with(vec,
  * literal-plane))` folded into an `array(...)` of bands) is correct
  * but pays two real costs at bands×planes scale: the expression tree
  * carries bands·planes·dim literal leaves through every optimizer
  * pass (~seconds of driver time PER QUERY at 16×6×64), and the
  * higher-order functions evaluate outside whole-stage codegen. This
  * expression is one plan node; codegen emits three tight loops over
  * the vector buffer and a referenced flat weight matrix.
  *
  * Weights derive deterministically from (bands, planesPerBand, dim,
  * seed) — the case-class fields are scalars, so plan canonicalization
  * and exchange reuse work structurally. Summation is left-to-right
  * from 0.0, bit-identical to the built-in composition (and the SQL
  * oracles' sequential form). Vector elements must be non-null.
  */
case class LshBuckets(child: Expression, bands: Int, planesPerBand: Int,
    dim: Int, seed: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  /** Flat weight matrix, [(band*planesPerBand + plane)*dim + d]. */
  @transient private lazy val flatWeights: Array[Double] = {
    val out = new Array[Double](bands * planesPerBand * dim)
    var b = 0
    while (b < bands) {
      val ps = LshPlanes.planes(planesPerBand, dim, seed + b)
      var p = 0
      while (p < planesPerBand) {
        System.arraycopy(ps(p), 0, out, (b * planesPerBand + p) * dim, dim)
        p += 1
      }
      b += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val lim = math.min(dim, v.numElements())
    val w = flatWeights
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bits = 0L
      var p = 0
      while (p < planesPerBand) {
        val off = (b * planesPerBand + p) * dim
        var s = 0.0
        var d = 0
        while (d < lim) { s += v.getDouble(d) * w(off + d); d += 1 }
        if (s > 0) bits |= (1L << p)
        p += 1
      }
      out(b) = bits
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("lshWeights", flatWeights, "double[]")
      val lim = ctx.freshName("lim")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val bits = ctx.freshName("bits")
      s"""
         |int $lim = java.lang.Math.min($dim, $a.numElements());
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $bits = 0L;
         |  for (int $p = 0; $p < $planesPerBand; $p++) {
         |    int $off = ($b * $planesPerBand + $p) * $dim;
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $lim; $d++) {
         |      $s += $a.getDouble($d) * $w[$off + $d];
         |    }
         |    if ($s > 0) $bits |= (1L << $p);
         |  }
         |  $out[$b] = $bits;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}
