package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Audio envelope fingerprint (q262) and embedding silhouette (q263).
  * Value truth is the DuckDB oracle; these pin the dedup semantics
  * (re-wrapped copies collide, container bytes differ) and the
  * silhouette bounds. */
class AudioEmbedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("q262: re-wrapped copies share the fingerprint while their bytes differ") {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id").as[Long].collect()
    val planted = docs.filter(_ % 13 == 0).map(d => (d * 2, d * 2 + 1)).toSet
    val out = SparkEntry.queries("q262_audio_fingerprint")(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == planted,
      s"at this sf the dup pairs must be exactly the planted copies; " +
        s"missing=${planted -- out} extra=${out -- planted}")
    // the two containers really are different byte streams
    val d0 = docs.filter(_ % 13 == 0).head
    val digests = Seq((d0, 16000), (d0, 44100)).toDF("doc_id", "rate")
      .select(md5(graft.operators.Multimodal.wavBytesPcm(col("rate"),
        lit(1), lit(512), col("doc_id")))).as[String].collect()
    assert(digests.distinct.length == 2,
      "planted copy must differ in container bytes (or the dedup is trivial)")
  }

  test("q262: fingerprint is a 30-bit value derived from decoded PCM") {
    val fps = SparkEntry.queries("q262_audio_fingerprint")(spark, dir)
      .select("fp").as[Long].collect()
    fps.foreach(f => assert(f >= 0 && f < (1L << 30)))
  }

  test("native graft_wav_pcm_bytes is byte-identical to the composed generator") {
    val M = graft.operators.Multimodal
    val rows = Seq((7L, 16000, 512), (7L, 44100, 512), (0L, 8000, 33),
        (12345L, 22050, 64)).toDF("doc_id", "rate", "n")
      .select(
        M.wavBytesPcm(col("rate"), lit(1), col("n"), col("doc_id")).as("nat"),
        MultimodalReference.wavBytesPcm(col("rate"), lit(1), col("n"),
          col("doc_id")).as("comp"))
      .as[(Array[Byte], Array[Byte])].collect()
    rows.foreach { case (nat, comp) =>
      assert(java.util.Arrays.equals(nat, comp),
        "native WAV generator must match the hex-assembled form byte for byte")
    }
  }

  test("native graft_pcm_samples matches the per-sample composed reader") {
    val M = graft.operators.Multimodal
    val rows = Seq((3L, 48), (99L, 512)).toDF("doc_id", "n")
      .select(M.wavBytesPcm(lit(16000), lit(1), col("n"),
        col("doc_id")).as("w"), col("n"))
      .select(
        call_function("graft_pcm_samples", col("w")).as("nat"),
        transform(sequence(lit(0), col("n") - 1),
          j => MultimodalReference.pcmSampleAt(col("w"), j).cast("int")).as("comp"))
      .as[(Seq[Int], Seq[Int])].collect()
    rows.foreach { case (nat, comp) => assert(nat == comp) }
  }

  test("native graft_audio_fp matches an in-JVM recompute; NULL below two frames") {
    val M = graft.operators.Multimodal
    val wav = M.wavBytesPcm(lit(16000), lit(1), col("n"), col("doc_id"))
    // the reference is an independent in-JVM recompute of the energy
    // and zero-crossing gradient bits from the container bytes
    val rows = Seq((5L, 512), (17L, 512), (5L, 63), (5L, 33))
      .toDF("doc_id", "n")
      .select(col("doc_id"), col("n"), wav.as("w"))
      .select(col("doc_id"), col("n"),
        call_function("graft_audio_fp", col("w"), lit(32)).as("fp"),
        col("w"))
      .as[(Long, Int, Option[Long], Array[Byte])].collect()
    rows.foreach { case (_, n, fp, bytes) =>
      val nFrames = n / 32
      if (nFrames < 2) assert(fp.isEmpty, s"n=$n must yield NULL fp")
      else {
        // independent recompute straight from the container bytes
        val sm = (0 until n).map { i =>
          val lo = bytes(44 + 2 * i) & 0xff
          val hi = bytes(45 + 2 * i)
          (hi << 8) | lo
        }
        val e = (0 until nFrames).map(f =>
          (0 until 32).map(k => sm(f * 32 + k).toLong *
            sm(f * 32 + k)).sum)
        val z = (0 until nFrames).map(f =>
          (1 until 32).count(k =>
            (sm(f * 32 + k) >= 0) != (sm(f * 32 + k - 1) >= 0)).toLong)
        val t = nFrames - 1
        var acc = 0L
        for (f <- 0 until t) {
          if (e(f + 1) > e(f)) acc |= 1L << f
          if (z(f + 1) > z(f)) acc |= 1L << (f + t)
        }
        assert(fp.contains(acc), s"fp mismatch for n=$n")
      }
    }
  }

  test("q265: two-NN estimator recovers dimension 1 on a synthetic line (formula check)") {
    // deterministic UNIFORM pseudo-random 1-D point set (a jittered
    // grid is too regular — near-constant spacing inflates the
    // estimate); the MLE n/sum(ln d2/d1) must land near 1
    // (Facco et al.: ln mu ~ Exp(id) in expectation)
    val pts = (0 until 300)
      .map(i => ((i * 2654435761L) % 1000000L) / 1000.0)
      .distinct.sorted
    val mus = pts.indices.map { i =>
      val ds = pts.indices.filter(_ != i)
        .map(j => math.abs(pts(j) - pts(i))).sorted
      ds(1) / ds(0)
    }
    val id = mus.length / mus.map(math.log).sum
    assert(id > 0.5 && id < 2.0, s"1-D estimate off: $id")
  }

  test("q265: sample size, mu ordering, positive finite estimate") {
    val (n, idHat, p50, p90) =
      SparkEntry.queries("q265_twonn_dim")(spark, dir)
        .as[(Long, Double, Double, Double)].collect().head
    // fixed-size md5 query sample (corpus-size-independent — the r14
    // second-decade contract)
    assert(n == 32)
    assert(p50 >= 1.0 && p90 >= p50, "d2/d1 ratios are >= 1 and ordered")
    assert(idHat > 0 && !idHat.isInfinite)
  }

  test("q266: vectors conserved, rate consistent with counts") {
    val rows = SparkEntry.queries("q266_label_noise")(spark, dir)
      .select("n_vecs", "n_suspect", "noise_rate")
      .as[(Long, Long, Double)].collect()
    val total = graft.sources.Tables.embeddings(spark, dir).count()
    assert(rows.map(_._1).sum == total)
    assert(rows.map(_._2).sum < total,
      "some points must sit nearest their own centroid")
    rows.foreach { case (n, k, r) =>
      assert(k <= n)
      assert(math.abs(r - BigDecimal(k.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("q271: MRR/recall bounds and query-sample size") {
    val (n, mrr, r5) = SparkEntry.queries("q271_retrieval_mrr")(spark, dir)
      .as[(Long, Double, Double)].collect().head
    // fixed-size md5 query sample (corpus-size-independent — the r14
    // second-decade contract)
    assert(n == 24)
    assert(mrr >= 0 && mrr <= 1 && r5 >= 0 && r5 <= 1)
    // with 10 labels a random ranker's MRR is well below a perfect 1;
    // label signal or not, the metric must be strictly positive here
    // (every query has same-label candidates in this corpus)
    assert(mrr > 0)
  }

  test("q263: silhouette bounded, labels covered, vectors conserved") {
    val rows = SparkEntry.queries("q263_embed_silhouette")(spark, dir)
      .select("label", "n_vecs", "avg_a", "avg_b", "silhouette")
      .as[(Int, Long, Double, Double, Double)].collect()
    val total = graft.sources.Tables.embeddings(spark, dir).count()
    assert(rows.map(_._2).sum == total)
    rows.foreach { case (_, _, a, b, sil) =>
      assert(a > 0 && b > 0)
      assert(sil >= -1.0 - 1e-9 && sil <= 1.0 + 1e-9)
    }
  }
}
