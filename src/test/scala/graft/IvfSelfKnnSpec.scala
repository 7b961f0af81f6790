package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The index-backed eval twins (q467/q468): the native probe-cells
  * expression vs its built-in fallback, the self-IVF top-k leg, and
  * the leg-agnostic downstream joins (mutual filter, vote). */
class IvfSelfKnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  /** 40 deterministic vectors in 4 crisp direction clusters (axis-ish
    * base + small md5-free per-id perturbation on the other axes) —
    * near neighbors land in the same cluster by construction. */
  private lazy val emb = {
    val rows = (0 until 40).map { id =>
      val base = id % 4
      val v = Array.tabulate(dim) { d =>
        val main = if (d == base * 2) 10.0 else 0.0
        main + 0.1 * (((id * 31 + d * 7) % 13) - 6)
      }
      (id.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
  }

  private lazy val norm =
    Similarity.normalizeCorpus(emb, "vec_id", "embedding")

  test("graft_probe_cells matches the built-in struct-sort composition") {
    val centers = Similarity.fitQuantizer(
      norm.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec")),
      "neighbor_id", "cvec", nlist = 4, dim = dim, seed = 7L, iters = 2)
    val ctrLit = typedlit[Seq[Seq[Double]]](
      centers.map(_.toIndexedSeq).toIndexedSeq)
    def sqd(vec: org.apache.spark.sql.Column, ctr: org.apache.spark.sql.Column) =
      aggregate(zip_with(vec, ctr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val fallback = transform(
      slice(array_sort(transform(ctrLit,
        (ctr, i) => struct(sqd(col("embedding"), ctr).as("d"),
          i.cast("int").as("cell")))), 1, 3),
      p => p.getField("cell"))
    val nativeCol = call_function("graft_probe_cells",
      col("embedding"), ctrLit, lit(3))
    val rows = norm.select(col("vec_id"), nativeCol.as("n"), fallback.as("f"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(rows.length == 40)
    rows.foreach { case (id, n, f) =>
      assert(n == f, s"probe mismatch for vec $id: native $n vs fallback $f")
    }
  }

  test("probe-cells all-NaN row matches the fallback (cells in index order)") {
    // an all-NaN vector (e.g. a zero vector normalized to NaN) makes
    // every distance NaN: the fallback's array_sort puts NaN last with
    // ties broken by cell asc, so top-3 = cells (0,1,2); the native
    // path's cold epilogue must produce the same — r15 advisor item,
    // re-fixed r16 outside the hot loop (the in-loop Double.compare
    // version measured 1.3-3.7x slower on every probe-cell consumer)
    val nanRow = Seq((0L, Seq.fill(dim)(Double.NaN)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val ctrLit = typedlit[Seq[Seq[Double]]](
      Seq.tabulate(4, dim)((c, d) => if (d == c) 1.0 else 0.0)
        .map(_.toIndexedSeq).toIndexedSeq)
    def sqd(vec: org.apache.spark.sql.Column, ctr: org.apache.spark.sql.Column) =
      aggregate(zip_with(vec, ctr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    val fallback = transform(
      slice(array_sort(transform(ctrLit,
        (ctr, i) => struct(sqd(col("embedding"), ctr).as("d"),
          i.cast("int").as("cell")))), 1, 3),
      p => p.getField("cell"))
    val nativeCol = call_function("graft_probe_cells",
      col("embedding"), ctrLit, lit(3))
    val (n, f) = nanRow.select(nativeCol.as("n"), fallback.as("f"))
      .as[(Seq[Int], Seq[Int])].head()
    assert(n == f, s"all-NaN probe: native $n vs fallback $f")
    assert(n == Seq(0, 1, 2))
  }

  test("probe-cells element 0 is the argmin assignment cell") {
    val centers = Similarity.fitQuantizer(
      norm.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec")),
      "neighbor_id", "cvec", nlist = 4, dim = dim, seed = 7L, iters = 2)
    val ctrLit = typedlit[Seq[Seq[Double]]](
      centers.map(_.toIndexedSeq).toIndexedSeq)
    val dists = transform(ctrLit, ctr =>
      aggregate(zip_with(col("embedding"), ctr, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    val argmin = (array_position(dists, array_min(dists)) - 1).cast("int")
    val head = element_at(
      call_function("graft_probe_cells", col("embedding"), ctrLit, lit(1)), 1)
    assert(norm.filter(head =!= argmin).count() == 0)
  }

  test("ivfSelfTopK with full probing (nprobe = nlist) equals exact top-k") {
    // probing every cell removes the approximation: candidates = the
    // whole corpus, so the result must equal the brute-force leg
    val ivf = Similarity.ivfSelfTopK(norm, "vec_id", "embedding", k = 3,
      nprobe = 16, dim = dim, preNormalized = true,
      fittedCenters = Some(Similarity.fitQuantizer(
        norm.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec")),
        "neighbor_id", "cvec", nlist = 16, dim = dim, seed = 42L, iters = 2)))
      .as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.cosineTopK(norm, "vec_id", "embedding", norm,
        k = 3, preNormalized = true)
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == exact)
  }

  test("mutualTopK over the IVF leg is symmetric and reciprocal-ranked") {
    val topk = Similarity.ivfSelfTopK(norm, "vec_id", "embedding", k = 3,
      nprobe = 2, dim = dim, seed = 42L, iters = 2, preNormalized = true)
    val fwd = topk.as[(Long, Long, Int)].collect()
      .map { case (q, n, r) => (q, n) -> r }.toMap
    val mutual = Similarity.mutualTopK(topk)
      .as[(Long, Long, Int, Int)].collect()
    assert(mutual.nonEmpty, "clustered corpus must produce mutual pairs")
    mutual.foreach { case (a, b, rab, rba) =>
      assert(a < b)
      assert(fwd((a, b)) == rab && fwd((b, a)) == rba,
        s"pair ($a,$b) ranks must come from both directed lists")
    }
  }

  test("nlistForCount: floor at 16 through 2000 vectors, then ∝ n") {
    assert(Similarity.nlistForCount(500) == 16)
    assert(Similarity.nlistForCount(2000) == 16)
    assert(Similarity.nlistForCount(2001) == 17)
    assert(Similarity.nlistForCount(20000) == 160)
  }

  test("semanticNearDupPairsScaled at the nlist floor equals the fixed form") {
    // 40 vectors → nlistForCount = 16 (floor) and the fit sample is the
    // whole corpus: the scaled variant must be row-identical to the
    // fixed-nlist operator — the property q469's oracle (= q75's
    // construction) relies on at gate scale
    val fixed = Similarity.semanticNearDupPairs(norm, "vec_id", "embedding",
        threshold = 0.8, nlist = 16, dim = dim, iters = 2, preNormalized = true)
      .as[(Long, Long, Double)].collect().toSet
    val scaled = Similarity.semanticNearDupPairsScaled(norm, "vec_id",
        "embedding", threshold = 0.8, dim = dim, iters = 2,
        preNormalized = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(scaled == fixed)
    assert(fixed.nonEmpty, "clustered corpus must produce in-cell pairs")
  }

  test("semanticNearDupPairsScaled sampled-fit path yields verified pairs") {
    val pairs = Similarity.semanticNearDupPairsScaled(norm, "vec_id",
        "embedding", threshold = 0.8, dim = dim, iters = 2,
        preNormalized = true, fitSampleMax = 10)
      .as[(Long, Long, Double)].collect()
    pairs.foreach { case (a, b, c) =>
      assert(a < b); assert(c >= 0.8 && c <= 1.0)
    }
  }

  test("corpus-scaled fit path (n > fitSampleMax) still yields valid top-k") {
    // force the sampled-fit branch with a tiny fitSampleMax: results
    // must still be well-formed per-query top-k over real neighbors
    val topk = Similarity.ivfSelfTopK(norm, "vec_id", "embedding", k = 2,
      nprobe = 2, dim = dim, seed = 42L, iters = 2, preNormalized = true,
      fitSampleMax = 10)
      .as[(Long, Long, Int)].collect()
    assert(topk.nonEmpty)
    topk.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"query $q ranks must be dense from 1")
      assert(rows.forall(_._2 != q), "self never appears as neighbor")
    }
  }
}
