package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-in compositions `Similarity` computed pair dot products
  * and sign-LSH band buckets with before its native kernels
  * (`expressions.DotProduct`, `expressions.LshBuckets`), kept as
  * equivalence references: the kernels must match them bit for bit. */
object SimilarityReference {

  /** Dot product for a known dimension as a flat 2·dim-term expression,
    * summed left to right. */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (0 until dim).map(i => a.getItem(i) * b.getItem(i)).reduce(_ + _)

  /** Sign-random-projection bucket: a `numPlanes`-bit key where bit p =
    * sign(vec · plane_p), over `expressions.LshPlanes` literal planes.
    * Each product is coalesced to 0 because `zip_with` null-pads a
    * vector whose length is not `dim`: like the kernel and the SQL
    * oracles, the dot is a partial sum over the common prefix. */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int, seed: Long): Column = {
    val ps = graft.expressions.LshPlanes.planes(numPlanes, dim, seed)
    (0 until numPlanes).map { p =>
      val plane = array(ps(p).toIndexedSeq.map(lit): _*)
      val d = aggregate(zip_with(vec, plane, (x, y) => coalesce(x * y, lit(0.0))),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }
}
