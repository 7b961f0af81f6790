package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native IVF probe-cell selection over an `array<double>` vector:
  * returns `array<int>` of the `nprobe` nearest coarse-quantizer cells
  * ordered by (squared L2 distance, cell index) — element 0 is the
  * vector's own assignment cell (the argmin), so ONE evaluation serves
  * both the posting-list assignment and the query probe list of a
  * corpus-as-queries (self-kNN) IVF pass.
  *
  * Why native: the built-in composition (per-row `transform` over the
  * centroid literal building nlist structs, `array_sort`, `slice`)
  * allocates nlist structs + an intermediate array per row and
  * evaluates outside whole-stage codegen. With a corpus-size-scaled
  * nlist (the linear-slope contract of `Similarity.ivfSelfTopK`:
  * nlist ∝ N keeps candidates-per-query constant), the probe pass is
  * N×nlist×dim flops — at 20k vectors × 160 cells × 64 dims that is
  * 200M lambda evaluations for the composition vs one tight generated
  * loop here. This is the same pathology (and the same fix) as
  * [[LshBuckets]].
  *
  * Semantics match that composition bit-for-bit: distance is the
  * left-to-right fold Σ(x−c)² over the common prefix of vector and
  * centroid (vectors are dim-length by construction; shorter inputs are
  * undefined), selection is strictly-less on distance with ties kept by
  * the lower cell index (cells are scanned in index order, so a later
  * equal-distance cell never displaces an earlier one) — identical to
  * `array_sort` on (d, cell) structs and to the SQL oracles'
  * `ORDER BY d, cell` row_number ranking. Vector elements must be
  * non-null; a null input yields null via the null-intolerant contract.
  *
  * The centroid matrix is a constructor field (flattened row-major), not
  * a per-row input: it is fit-derived driver-side state, baked into the
  * generated code as a reference object exactly like [[LshBuckets]]'s
  * weight matrix. Array fields compare by reference, so two plans only
  * share exchanges when they share the fit object — a false-negative
  * for reuse, never a correctness issue.
  */
case class ProbeCells(child: Expression, flatCenters: Array[Double],
    nlist: Int, dim: Int, nprobe: Int) extends UnaryExpression {

  require(nlist > 0 && dim > 0 && nprobe > 0,
    s"graft_probe_cells: nlist=$nlist dim=$dim nprobe=$nprobe must be positive")
  require(flatCenters.length == nlist * dim,
    s"graft_probe_cells: centers matrix has ${flatCenters.length} values, " +
      s"expected nlist×dim = ${nlist * dim}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_probe_cells requires array<double>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_probe_cells"

  private val k = math.min(nprobe, nlist)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    new GenericArrayData(
      ProbeCells.select(v, flatCenters, nlist, dim, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("probeCenters", flatCenters, "double[]")
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.expressions.ProbeCells.select($a, $w, $nlist, $dim, $k));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)
}

object ProbeCells {
  /** Top-`k` nearest cells by (squared distance, cell): one pass over
    * the cells in index order with insertion into a k-slot buffer —
    * strict-less comparison keeps the earliest (lowest-index) cell on
    * distance ties. Shared by interpreted eval and generated code.
    *
    * NaN handling (r15 advisor; r16): a NaN distance never inserts
    * (`NaN < x` is false), so rows with NaN distances (e.g. a zero
    * vector normalized to NaN) can leave trailing slots at the
    * Int.MaxValue sentinel. A COLD epilogue then fills those slots
    * with the lowest-indexed cells not already selected — exactly the
    * composition's `array_sort` order (NaN sorts last, ties by cell asc).
    * The hot path is byte-identical to the r15 loop: an earlier fix
    * that threaded NaN ordering through the insertion comparisons
    * (`java.lang.Double.compare` + a fill counter) measured 1.3–3.7×
    * slower on every probe-cell consumer (q106/q116/q467/q468/q469,
    * isolated A/B) — the pathological case must not tax the hot loop.
    * Caveat unchanged from r15: a genuinely +Infinite distance (an
    * infinite coordinate) is ordered by the epilogue like NaN rather
    * than before it; unreachable for real embeddings. */
  def select(v: ArrayData, flat: Array[Double], nlist: Int, dim: Int,
      k: Int): Array[Int] = {
    // explicit invariant (r16 advisor): the expression always passes
    // k = min(nprobe, nlist); a direct caller with k > nlist would get
    // Int.MaxValue sentinel "cell ids" in trailing slots (the fill
    // epilogue can only name real cells). One predictable int compare —
    // no measurable cost against the N×nlist×dim distance loop below.
    require(k <= nlist,
      s"ProbeCells.select: k=$k exceeds nlist=$nlist — only nlist real " +
        "cells exist; pass k = min(nprobe, nlist) like the expression does")
    val lim = math.min(dim, v.numElements())
    val bestD = new Array[Double](k)
    val bestC = new Array[Int](k)
    java.util.Arrays.fill(bestD, Double.PositiveInfinity)
    java.util.Arrays.fill(bestC, Int.MaxValue)
    var c = 0
    while (c < nlist) {
      val off = c * dim
      var s = 0.0
      var d = 0
      while (d < lim) {
        val t = v.getDouble(d) - flat(off + d)
        s += t * t
        d += 1
      }
      if (s < bestD(k - 1)) {
        var i = k - 1
        while (i > 0 && s < bestD(i - 1)) {
          bestD(i) = bestD(i - 1); bestC(i) = bestC(i - 1); i -= 1
        }
        bestD(i) = s; bestC(i) = c
      }
      c += 1
    }
    if (bestC(k - 1) == Int.MaxValue) fillUnreached(bestC, nlist, k)
    bestC
  }

  /** Cold path: fill sentinel slots (never inserted — NaN/+Inf
    * distances) with the lowest-indexed cells not already selected.
    * Filled slots form a prefix (the insertion keeps the buffer
    * sorted with sentinels at the tail). O(k·nlist), taken only on
    * degenerate rows. */
  private def fillUnreached(bestC: Array[Int], nlist: Int, k: Int): Unit = {
    var j = 0
    while (j < k && bestC(j) != Int.MaxValue) j += 1
    var c = 0
    while (j < k && c < nlist) {
      var used = false
      var i = 0
      while (i < j && !used) { if (bestC(i) == c) used = true; i += 1 }
      if (!used) { bestC(j) = c; j += 1 }
      c += 1
    }
  }
}
