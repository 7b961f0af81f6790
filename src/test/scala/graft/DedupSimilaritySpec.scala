package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (5L, "short text"),
    (6L, "")).toDF("doc_id", "text")

  test("exact dedup groups identical normalized text") {
    val res = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    val dupGroup = res.find(_._3 == 2L)
    assert(dupGroup.exists(_._2 == 1L), "keeps min doc_id of the duplicate pair")
    assert(res.length == 5) // 6 docs, one exact pair
  }

  test("shingles: n consecutive tokens; short docs yield one whole-text shingle") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).contains("the quick brown"))
    assert(sh(5L) == Seq("short text"))
    assert(sh(6L) == Seq(""))
  }

  test("minHash near-dup pipeline finds the planted pair and only it") {
    val pairs = Dedup.minHashNearDup(docs.filter(col("doc_id") =!= 4), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("identical docs share identical MinHash signatures") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
  }

  test("ngramJaccardPairs returns exact jaccard for the planted pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5, maxDf = 100)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 4L)) == 1.0)
  }

  test("ngramJaccardPairs counts hot shingles in the intersection (maxDf correction)") {
    // unigram sets; maxDf=2 makes the common phrase tokens hot (df=3):
    //   d1 = {common1 common2 a b}, d2 = {common1 common2 a c},
    //   d3 = {common1 common2 x y}
    // Pair (1,2) is a candidate via rare "a" (df=2); its TRUE
    // intersection is {common1, common2, a} = 3 of union 5 → J = 0.6 —
    // only correct if the two hot shingles are added back. Without the
    // correction J would read 1/5 = 0.2 and the pair would be lost.
    val hotDocs = Seq(
      (1L, "common1 common2 a b"),
      (2L, "common1 common2 a c"),
      (3L, "common1 common2 x y")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text",
        shingleSize = 1, threshold = 0.5, maxDf = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got == Map((1L, 2L) -> 0.6))
  }

  test("ngramJaccardPairs equals brute force on random corpora (property)") {
    val rng = new scala.util.Random(13)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq.fill(6 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    }
    def uniSet(t: String) = t.split("\\s+").toSet
    val brute = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = uniSet(ta); sb = uniSet(tb)
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      jr = math.floor(j * 10000 + 0.5) / 10000
      if jr >= 0.6 && inter > 0
    } yield (ia, ib) -> jr).toMap
    val got = Dedup.ngramJaccardPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 1, threshold = 0.6, maxDf = 100)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got == brute)
  }

  test("row-wise MinHash signature equals the exploded-aggregate signature (property)") {
    val rng = new scala.util.Random(11)
    val docs = (0L until 60L).map(i => (i,
      Seq.fill(1 + rng.nextInt(25))("t" + rng.nextInt(40)).mkString(" ")))
      .toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val agg = DedupReference.minHashSigsFromSets(sets, "doc_id", 64)
      .as[(Long, Seq[Long])].collect().toMap
    val row = sets.select(col("doc_id"),
        Dedup.minHashSigRow(col("__sh"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(row == agg)
  }

  test("merged reference stages are row-identical to recomputing over (ref ∪ accepted)") {
    val rng = new scala.util.Random(7)
    def doc() = Seq.fill(6 + rng.nextInt(12))(
      "w" + rng.nextInt(30)).mkString(" ")
    val refDocs = (0L until 40L).map(i => (i, doc()))
    val incDocs = (100L until 130L).map(i => (i, doc()))
    val ref = refDocs.toDF("doc_id", "text")
    val inc = incDocs.toDF("doc_id", "text")
    val refSets = Dedup.shingleSets(ref, "doc_id", "text", 3)
    val refSigs = Dedup.minHashSigsFromSets(refSets, "doc_id", 64)
    val incSets = Dedup.shingleSets(inc, "doc_id", "text", 3)
    val incSigs = Dedup.minHashSigsFromSets(incSets, "doc_id", 64)
    // accept an arbitrary deterministic subset of the batch
    val accepted = inc.filter(col("doc_id") % 3 =!= 0).select("doc_id")
    val (mSets, mSigs) = Dedup.mergedReferenceStages(
      refSets, refSigs, incSets, incSigs, "doc_id", accepted)
    val unionDocs = ref.unionAll(inc.filter(col("doc_id") % 3 =!= 0))
    val fSets = Dedup.shingleSets(unionDocs, "doc_id", "text", 3)
    val fSigs = Dedup.minHashSigsFromSets(fSets, "doc_id", 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[String])].collect().toMap
    def sigRows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Long])].collect().toMap
    assert(rows(mSets) == rows(fSets))
    assert(sigRows(mSigs) == sigRows(fSigs))
    // fingerprint leg: merged table == from-scratch distinct fps
    val refFps = ref.select(
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct()
    val mFps = Dedup.mergedReferenceFps(refFps, inc, "doc_id", "text", accepted)
    val fFps = unionDocs.select(
      graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct()
    assert(mFps.as[String].collect().sorted.toSeq ==
      fFps.as[String].collect().sorted.toSeq)
  }

  test("simHash: exact dups identical, near-dups hamming-close, others far") {
    val sims = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sims(1L), sims(2L)) < hamming(sims(1L), sims(3L)))
    val pairs = Dedup.simHashPairs(
      Dedup.simHash(docs, "doc_id", "text"), "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  // --- similarity over synthetic embeddings ---

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
  private lazy val emb = Seq(
    (0L, vec(1, 0, 0, 0)),
    (1L, vec(0.9, 0.1, 0, 0)),  // close to 0
    (2L, vec(0, 1, 0, 0)),
    (3L, vec(0, 0.9, 0.1, 0)),  // close to 2
    (4L, vec(0, 0, 0, 1))).toDF("vec_id", "embedding")

  test("int8 quantization: codes bounded, zero vector safe, reconstruction within scale/2") {
    val df = Seq((1L, Seq(0.5, -1.27, 0.0, 1.27)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "v")
    val got = Similarity.int8Quantize(df, "id", "v", keepVec = true)
      .as[(Long, Double, Seq[Int], Seq[Double])].collect()
      .map(r => r._1 -> r).toMap
    val (_, s1, c1, v1) = got(1L)
    assert(math.abs(s1 - 0.01) < 1e-12)
    assert(c1 == Seq(50, -127, 0, 127))
    assert(c1.forall(c => c >= -127 && c <= 127))
    // reconstruction error bounded by scale/2 (+ ulp slack)
    assert(v1.zip(c1).forall { case (x, c) =>
      math.abs(x - c * s1) <= s1 / 2 + 1e-12 })
    val (_, s2, c2, _) = got(2L)
    assert(s2 == 0.0 && c2 == Seq(0, 0, 0, 0))
  }

  test("cosineTopK: nearest neighbor is the planted close vector") {
    val top1 = Similarity.cosineTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), k = 1)
      .as[(Long, Long, Int)].collect()
    assert(top1.toSeq == Seq((0L, 1L, 1)))
  }

  test("cosineSimJoin matches brute-force pairs above threshold") {
    val got = Similarity.cosineSimJoin(emb, "vec_id", "embedding", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (2L, 3L)))
  }

  test("cosineTopK fails fast above the score-pair cap") {
    // |corpus|×|queries| = 25 pairs here; a cap of 10 must trip
    // BEFORE any stage launches, and the message must route the
    // caller to the index legs
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineTopK(emb, "vec_id", "embedding", emb, k = 1,
        maxPairs = 10)
    }
    assert(e.getMessage.contains("annTopK"))
    // at the cap exactly it still runs
    assert(Similarity.cosineTopK(emb, "vec_id", "embedding", emb, k = 1,
      maxPairs = 25).count() == 5)
  }

  test("cosineSimJoin fails fast above the quadratic-stage row cap") {
    // the bounded-corpus contract is enforced BEFORE any N² stage
    // launches: the call itself throws, there is no job to cancel
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineSimJoin(emb, "vec_id", "embedding", 0.8,
        maxRows = 3)
    }
    assert(e.getMessage.contains("cap"))
    // at the cap exactly, the operator still runs (emb has 5 rows)
    val ok = Similarity.cosineSimJoin(emb, "vec_id", "embedding", 0.8,
      maxRows = 5)
    assert(ok.count() == 2)
  }

  test("native graft_dot expression: registered, correct, bit-identical to built-ins") {
    assert(spark.catalog.functionExists("graft_dot"),
      "GraftExtensions not installed in the test session")
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(call_function("graft_dot", col("a"), col("b")))
      .as[Double].head() == 32.0)
    // SQL surface
    df.createOrReplaceTempView("graft_dot_v")
    assert(spark.sql("SELECT graft_dot(a, b) FROM graft_dot_v")
      .as[Double].head() == 32.0)
    // bit-for-bit parity with the unrolled composition on random vectors
    val rng = new scala.util.Random(5)
    val vecs = Seq.fill(50)((Seq.fill(64)(rng.nextGaussian()),
      Seq.fill(64)(rng.nextGaussian()))).toDF("a", "b")
    val pairs = vecs.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      SimilarityReference.dotUnrolled(col("a"), col("b"), 64).as("unrolled"))
      .as[(Double, Double)].collect()
    pairs.foreach { case (n, u) => assert(n == u) }
    // null input -> null
    val withNull = Seq((Seq(1.0), Option.empty[Seq[Double]])).toDF("a", "b")
    assert(withNull.select(call_function("graft_dot", col("a"), col("b")))
      .as[Option[Double]].head().isEmpty)
  }

  test("ivfTopK recovers in-cluster neighbors on planted clusters") {
    val rng = new scala.util.Random(9)
    // 10 well-separated clusters of 40 vectors each
    val centers = Seq.fill(10)(Seq.fill(16)(rng.nextGaussian() * 10))
    val corpus = centers.zipWithIndex.flatMap { case (ctr, ci) =>
      (0 until 40).map { j =>
        (ci * 40L + j, ctr.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0).limit(4)
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding", queries,
      k = 5, nlist = 10, nprobe = 2, dim = 16)
    val exact = Similarity.cosineTopK(corpus, "vec_id", "embedding", queries,
      k = 5)
    val a = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val e = exact.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall >= 0.8, s"IVF recall $recall on planted clusters")
    assert(ivf.count() == 20)
  }

  test("pqTopK: ADC scan + re-rank recovers exact top-k on planted clusters") {
    val rng = new scala.util.Random(11)
    val centers = Seq.fill(8)(Seq.fill(16)(rng.nextGaussian() * 10))
    val corpus = centers.zipWithIndex.flatMap { case (ctr, ci) =>
      (0 until 40).map { j =>
        (ci * 40L + j, ctr.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0).limit(4)
    val pq = Similarity.pqTopK(corpus, "vec_id", "embedding", queries,
      k = 5, m = 4, ksub = 8, refine = 10, dim = 16)
    val exact = Similarity.cosineTopK(corpus, "vec_id", "embedding", queries,
      k = 5)
    val a = pq.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val e = exact.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall >= 0.8, s"PQ recall $recall on planted clusters")
    assert(pq.count() == 20)
    // rnk is a dense per-query 1..k ranking
    val ranks = pq.groupBy("query_id").agg(collect_list("rnk").as("r"))
      .select("r").as[Seq[Int]].collect()
    ranks.foreach(r => assert(r.sorted == (1 to 5), s"ranks $r"))
  }

  test("ivfPqTopK: composed coarse-probe + ADC recovers exact top-k; fitted reuse matches refit") {
    val rng = new scala.util.Random(13)
    val centers = Seq.fill(8)(Seq.fill(16)(rng.nextGaussian() * 10))
    val corpus = centers.zipWithIndex.flatMap { case (ctr, ci) =>
      (0 until 40).map { j =>
        (ci * 40L + j, ctr.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 40 === 0).limit(4)
    val ivfpq = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", queries,
      k = 5, nlist = 8, nprobe = 2, m = 4, ksub = 8, refine = 10, dim = 16)
    val exact = Similarity.cosineTopK(corpus, "vec_id", "embedding", queries,
      k = 5)
    val a = ivfpq.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val e = exact.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall on planted clusters")
    assert(ivfpq.count() == 20)
    // passing pre-fitted centers/books must reproduce the refit result
    val norm = Similarity.normalizeCorpus(corpus, "vec_id", "embedding")
    val fc = Similarity.fitQuantizer(norm, "vec_id", "embedding",
      nlist = 8, dim = 16, seed = 42L, iters = 3)
    val fb = Similarity.fitCodebooks(norm, "vec_id", "embedding",
      m = 4, ksub = 8, dsub = 4, seed = 4242L, iters = 3)
    val viaFitted = Similarity.ivfPqTopK(norm, "vec_id", "embedding",
      norm.join(queries.select("vec_id"), "vec_id"),
      k = 5, nlist = 8, nprobe = 2, m = 4, ksub = 8, refine = 10, dim = 16,
      preNormalized = true, fittedCenters = Some(fc), fittedBooks = Some(fb))
    val f = viaFitted.select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    val base = ivfpq.select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(f == base, "fitted-reuse path diverged from refit path")
  }

  test("clusterCapSample: two-level prune equals the naive per-cell window, cap respected") {
    val rng = new scala.util.Random(17)
    // skewed clusters: one dominant cluster (200), three small ones
    val centers = Seq.fill(4)(Seq.fill(16)(rng.nextGaussian() * 10))
    val sizes = Seq(200, 30, 10, 3)
    val corpus = centers.zip(sizes).zipWithIndex.flatMap { case ((ctr, n), ci) =>
      (0 until n).map { j =>
        (ci * 1000L + j, ctr.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val got = Similarity.clusterCapSample(corpus, "vec_id", "embedding",
      cap = 25, nlist = 4, dim = 16)
      .select("vec_id", "cell", "r").as[(Long, Int, Int)].collect()
    // cap respected per cell; small cells keep everything
    val perCell = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perCell.values.forall(_ <= 25), s"cap violated: $perCell")
    assert(got.length ==
      perCell.values.sum && perCell.values.sum <= 25 + 25 + 10 + 3 + 25)
    // equals the naive single-window reference computed driver-side
    val norm = Similarity.normalizeCorpus(corpus, "vec_id", "embedding")
    val fc = Similarity.fitQuantizer(norm, "vec_id", "embedding",
      nlist = 4, dim = 16, seed = 42L, iters = 3)
    val all = Similarity.clusterCapSample(norm, "vec_id", "embedding",
      cap = Int.MaxValue, nlist = 4, dim = 16, preNormalized = true,
      fittedCenters = Some(fc))
      .select("vec_id", "cell", "r").as[(Long, Int, Int)].collect()
    val naive = all.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(_._3).take(25)
    }.toSet
    assert(got.toSet == naive, "two-level prune diverged from naive window")
  }

  test("rrfFuse: hand-computed fusion scores, missing-leg zeros, tie by neighbor") {
    def leg(rows: (Long, Long, Int)*) = rows.toDF("query_id", "neighbor_id", "rnk")
    // leg A ranks n1 > n2; leg B ranks n2 > n3; n1 and n3 appear once
    val fused = Similarity.rrfFuse(Seq(
      leg((1L, 101L, 1), (1L, 102L, 2)),
      leg((1L, 102L, 1), (1L, 103L, 2))), k = 3, rrfK = 60)
      .orderBy("rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // 102: 1/62 + 1/61 = 0.032522; 101: 1/61 = 0.016393; 103: 1/62 = 0.016129
    assert(fused.map(r => (r._2, r._3, r._4)) == Seq(
      (102L, 0.032522, 1), (101L, 0.016393, 2), (103L, 0.016129, 3)),
      s"got $fused")
    // equal single-leg ranks tie -> neighbor id breaks deterministically
    val tied = Similarity.rrfFuse(Seq(
      leg((1L, 5L, 1), (1L, 3L, 1))), k = 2)  // impossible as one leg, but
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect()  // exercises the tie rule
    assert(tied.map(_._2).toSeq == Seq(3L, 5L))
  }

  test("randomProject: JL distortion concentrates near 1, tighter at higher outDim") {
    val rng = new scala.util.Random(19)
    val corpus = (0L until 64L).map(i =>
      (i, Seq.fill(64)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    def audit(outDim: Int) =
      Similarity.jlDistortionAudit(corpus, "vec_id", "embedding",
        outDim = outDim, sampleMax = 64L)
        .as[(Long, Double, Double, Double)].head()
    val (n16, avg16, min16, max16) = audit(16)
    assert(n16 == 64L * 63 / 2)
    assert(avg16 > 0.8 && avg16 < 1.2, s"avg ratio $avg16")
    assert(min16 > 0.0 && max16 < 4.0, s"range $min16..$max16")
    val (_, avg32, min32, max32) = audit(32)
    assert(avg32 > 0.85 && avg32 < 1.15, s"avg ratio $avg32")
    // more output dims -> tighter concentration (JL epsilon shrinks)
    assert(max32 - min32 < max16 - min16,
      s"spread should tighten: d'=32 [$min32,$max32] vs d'=16 [$min16,$max16]")
    // projection output shape: outDim entries per vector
    val proj = Similarity.randomProject(corpus, "vec_id", "embedding", 16)
    assert(proj.select(size(col("proj"))).distinct().as[Int].collect()
      .toSeq == Seq(16))
  }

  test("lshBucketsAll: native codegen expression matches built-in composition bit-for-bit") {
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(100)(Seq.fill(64)(rng.nextGaussian()))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    assert(spark.catalog.functionExists("graft_lsh_buckets"))
    val native = vecs.select(col("id"),
      call_function("graft_lsh_buckets", col("v"),
        lit(16), lit(6), lit(64), lit(42L)).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    // reference composition: per-band lshBucket over literal planes
    val composed = vecs.select(col("id"),
      array((0 until 16).map(b =>
        SimilarityReference.lshBucket(col("v"), 6, 64, seed = 42L + b)): _*).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == composed)
  }

  test("cosineNearDupLsh equals the exact τ-join in the near-dup regime") {
    val rng = new scala.util.Random(11)
    // 20 clusters of 5 near-identical vectors: in-cluster cos ~0.999,
    // cross-cluster cos ~0 — the regime banded sign-LSH is built for.
    // At cos 0.95+ a 6-plane band collides with p ≈ 0.53, so 16 bands
    // give ~1-6e-6 recall per pair: output must equal the exact join.
    val corpus = (0 until 20).flatMap { c =>
      val ctr = Seq.fill(32)(rng.nextGaussian())
      (0 until 5).map { j =>
        (c * 5L + j, ctr.map(x => (x + rng.nextGaussian() * 0.01).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val lsh = Similarity.cosineNearDupLsh(corpus, "vec_id", "embedding",
        threshold = 0.95, bands = 16, planesPerBand = 6, dim = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineSimJoin(corpus, "vec_id", "embedding",
        threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.size == 20 * 10, "every in-cluster pair qualifies")
  }

  test("winnowedDupPairs: guaranteed catch at >= gram+window-1 shared chars; no false pairs") {
    import graft.operators.Dedup
    val rng = new scala.util.Random(29)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(59) // gram 50 + window 10 - 1: the guarantee length
    val docs = Seq(
      (1L, rand(100) + shared + rand(80)),   // shares the 59-char run...
      (2L, rand(60) + shared + rand(120)),   // ...at a different offset
      (3L, rand(200)),                       // unrelated
      (4L, rand(30)))                        // too short to window
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"must catch exactly the planted shared-substring pair, got $pairs")
  }

  test("winnowedDupPairs: chunking preserves the guarantee across chunk boundaries") {
    import graft.operators.Dedup
    val rng = new scala.util.Random(31)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(59) // the gram+window-1 guarantee unit
    // "oversize" docs relative to a 1000-char chunk budget: doc 1 is
    // 5000 chars with the shared run planted ON a chunk boundary
    // (chunk stride = 1000-58 = 942; boundary at 1884 — the run spans
    // [1860, 1919), crossing it), doc 2 carries the run mid-doc, doc 3
    // is oversize noise. The overlap contract says no cross-chunk run
    // is lost.
    val doc1 = rand(1860) + shared + rand(5000 - 1860 - 59)
    val docs = Seq(
      (1L, doc1),
      (2L, rand(500) + shared + rand(3000)),
      (3L, rand(4000)))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(docs, "doc_id", "text",
        maxChunkChars = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"chunked run must catch exactly the planted pair, got $pairs")
    // single-chunk path (budget >= doc length) is byte-identical to the
    // unchunked plan's answer
    val one = Dedup.winnowedDupPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(one == Set((1L, 2L)))
  }

  test("winnowedDupPairs: native one-pass winnow is row-identical to the builtin composition") {
    import graft.operators.Dedup
    val rng = new scala.util.Random(37)
    def rand(n: Int) = Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    val shared = rand(80)
    val docs = Seq(
      (1L, rand(300) + shared + rand(200)),
      (2L, shared + rand(400)),
      (3L, rand(700)),
      (4L, rand(120) + shared.take(60) + rand(40)),
      (5L, "héllo wörld " * 50 + shared),  // multibyte: substring path
      (6L, rand(55)))                      // barely windows
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val builtinPairs = DedupReference.winnowedDupPairs(docs, "doc_id", "text",
        gram = 50, window = 10, maxDf = 1000)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "fixture plants shared runs; no pairs is vacuous")
    assert(pairs == builtinPairs,
      "native winnow diverged from the builtin composition on pairs")
    // and at the raw selection level: the expression's encodings equal
    // the builtin hash+window-min+distinct per document (sets — the
    // builtin path loses order in its distinct)
    val sel = docs
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.call_function("graft_winnow",
          col("text"), lit(50), lit(10))).as("m"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val builtinSel = DedupReference
      .winnowEncodings(docs, "doc_id", "text", gram = 50, window = 10)
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(sel == builtinSel,
      "selected fingerprint encodings diverged from the SQL composition")
  }

  test("WinnowSelect: deque ring survives window+1 strictly-increasing encodings (overflow regression)") {
    import graft.expressions.WinnowSelect
    import org.apache.spark.unsafe.types.UTF8String
    // Naive reference: same encoding, O(n*window) clipped sliding min,
    // distinct in first-occurrence order — no deque to overflow.
    def encode(t: String, gram: Int): Array[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 to t.length - gram).map { i =>
        md.reset()
        val h = md.digest(t.substring(i, i + gram).getBytes("UTF-8"))
        var v = 0L
        for (k <- 0 until 8) v = (v << 8) | (h(k) & 0xffL)
        (v >>> 24) * 8388608L + (i + 1)
      }.toArray
    }
    def naive(t: String, gram: Int, window: Int): Seq[Long] = {
      val enc = encode(t, gram)
      if (enc.isEmpty) return Seq.empty
      val seen = new scala.collection.mutable.LinkedHashSet[Long]
      for (i <- enc.indices)
        seen += enc.slice(i, math.min(i + window, enc.length)).min
      seen.toSeq
    }
    val rng = new scala.util.Random(101)
    val gram = 2; val window = 3
    var sawIncreasingRun = false
    for (_ <- 0 until 200) {
      val t = Seq.fill(40 + rng.nextInt(160))(
        ('a' + rng.nextInt(26)).toChar).mkString
      val enc = encode(t, gram)
      // the overflow trigger: window+1 consecutive strictly-increasing
      // encodings (deque holds `window` live entries at push time)
      sawIncreasingRun ||= enc.sliding(window + 1).exists(w =>
        w.length == window + 1 && w.sliding(2).forall(p => p(0) < p(1)))
      val got = WinnowSelect.select(UTF8String.fromString(t), gram, window)
        .toLongArray().toSeq
      assert(got == naive(t, gram, window),
        s"winnow diverged from naive sliding min on: $t")
    }
    assert(sawIncreasingRun,
      "corpus never exercised the window+1 increasing-run overflow path")
  }

  test("semanticNearDupPairs: finds in-cluster near-dups via cell blocking; subset of the exact join") {
    val rng = new scala.util.Random(17)
    // 8 well-separated clusters of 6 near-identical vectors — with
    // nlist=8 the quantizer separates them, so every in-cluster pair
    // shares a cell and SemDeDup must equal the exact τ-join
    val corpus = (0 until 8).flatMap { c =>
      val ctr = Seq.fill(32)(rng.nextGaussian() * 5)
      (0 until 6).map { j =>
        (c * 6L + j, ctr.map(x => (x + rng.nextGaussian() * 0.02).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val sem = Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.95, nlist = 8, dim = 32, iters = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineSimJoin(corpus, "vec_id", "embedding",
        threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sem.subsetOf(exact), "cell blocking must never invent a pair")
    assert(exact.size == 8 * 15, "every in-cluster pair qualifies")
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.8,
      s"well-separated planted clusters should mostly share cells, recall $recall")
  }

  test("preNormalized corpus path is bit-identical to inline normalization") {
    val rng = new scala.util.Random(23)
    val emb2 = (0L until 100L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val norm = Similarity.normalizeCorpus(emb2, "vec_id", "embedding")
    val inline = Similarity.cosineSimJoin(emb2, "vec_id", "embedding",
        threshold = -1.0)
      .as[(Long, Long, Double)].collect().toSet
    val pre = Similarity.cosineSimJoin(norm, "vec_id", "embedding",
        threshold = -1.0, preNormalized = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(pre == inline, "every pair cosine must match bit-for-bit")
    val annInline = Similarity.annTopK(emb2, "vec_id", "embedding",
        emb2.filter(col("vec_id") < 4), k = 5, numPlanes = 6, dim = 16)
      .as[(Long, Long, Int)].collect().toSet
    val annPre = Similarity.annTopK(norm, "vec_id", "embedding",
        norm.filter(col("vec_id") < 4), k = 5, numPlanes = 6, dim = 16,
        preNormalized = true)
      .as[(Long, Long, Int)].collect().toSet
    assert(annPre == annInline, "bucket assignments and ranks must match")
  }

  test("salted join and salted agg equal their unsalted twins under a hot key") {
    import graft.operators.Skew
    val big = (1L to 3000L).map(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", 100L), ("k5", 5L)).toDF("key", "w")
    val plain = big.join(small, Seq("key")).agg(sum(col("v") * col("w")))
      .as[Long].head()
    val salted = Skew.saltedJoin(big, small, "key", saltFactor = 8)
      .agg(sum(col("v") * col("w"))).as[Long].head()
    assert(salted == plain)
    val plainAgg = big.groupBy("key").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("key").as[(String, Long, Long)].collect().toSeq
    val saltedAgg = Skew.saltedAgg(big, "key", 8,
        g => g.agg(count(lit(1)).as("pn"), sum("v").as("ps")),
        g => g.agg(sum("pn").as("n"), sum("ps").as("s")))
      .orderBy("key").as[(String, Long, Long)].collect().toSeq
    assert(saltedAgg == plainAgg)
    // right/full outer would emit one null-extended row per salt for
    // unmatched replicated-side rows — rejected up front
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, "key", saltFactor = 8, joinType = "right_outer")
    }
  }

  test("annTopK multi-probe: full row count on random data, high recall on clustered data") {
    val rng = new scala.util.Random(42)
    // random corpus: no locality to exploit — assert the row-count
    // contract (multi-probe always surfaces >= k candidates per query)
    val corpus = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val ann = Similarity.annTopK(corpus, "vec_id", "embedding", queries,
      k = 5, numPlanes = 6, dim = 16)
    assert(ann.count() == 20, "every query returns its full top-k")
    // clustered corpus: near-identical vectors share buckets, so the
    // true neighbors must be recalled — the regime LSH is for
    val centers = Seq.fill(8)(Seq.fill(16)(rng.nextGaussian() * 10))
    val clustered = centers.zipWithIndex.flatMap { case (ctr, ci) =>
      (0 until 25).map { j =>
        (ci * 25L + j, ctr.map(x => (x + rng.nextGaussian() * 0.05).toFloat))
      }
    }.toDF("vec_id", "embedding")
    val cq = clustered.filter(col("vec_id") % 25 === 0).limit(4)
    val approxC = Similarity.annTopK(clustered, "vec_id", "embedding", cq,
        k = 5, numPlanes = 6, dim = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exactC = Similarity.cosineTopK(clustered, "vec_id", "embedding", cq,
        k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approxC intersect exactC).size.toDouble / exactC.size
    assert(recall >= 0.8, s"multi-probe recall $recall on clustered corpus")
  }

  test("containmentPairs: a strict prefix fragment scores cont 1.0 at sub-threshold jaccard") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e f g h i j"), // strict prefix of 1: contained, J ≈ 8/18
      (3L, "z y x w v u t s r q p o n m")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleSize = 3, threshold = 0.8, maxDf = 100)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      "only the containment pair surfaces")
    val (_, _, contA, contB, j) = pairs.head
    assert(math.max(contA, contB) == 1.0, "the fragment is wholly contained")
    assert(j < 0.8, "jaccard alone would have missed the pair")
  }

  test("indexStalenessAudit: empty cells survive with zero counts; uniform slice has ~zero TVD") {
    // two tight clusters + one far-off center nothing is assigned to
    val centers = Array(Array(0.0, 1.0), Array(1.0, 0.0), Array(100.0, 100.0))
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Seq(0.01 * i, 1.0) else Seq(1.0, 0.01 * i)
      (i, base, i >= 20) // "new" = second half of ids — same cell mix
    }.toDF("vec_id", "embedding", "is_new")
    val out = Similarity.indexStalenessAudit(vecs, "vec_id", "embedding",
        "is_new", centers, tvdThreshold = 0.3)
      .as[(Int, Long, Long, Double, Double, Double, Double, Boolean)].collect()
    assert(out.length == 3, "one row per fitted cell, empty ones included")
    val empty = out.find(_._1 == 2).get
    assert(empty._2 == 0L && empty._3 == 0L && empty._6 == 0.0,
      "unoccupied cell reports zero counts and zero distortion")
    assert(out.map(_._2).sum == 40L)
    // the id-parity construction puts the same cell mix in both eras
    assert(out.head._7 <= 0.06, s"near-uniform slice TVD ${out.head._7}")
    assert(!out.head._8, "no refit verdict on an undrifted corpus")
  }

  test("prefixFilterJoin: complete vs naive all-pairs, exact tau boundary, pruning live") {
    // token sets with a known Jaccard structure
    def toks(id: Long, ts: Seq[String]) = ts.map(t => (id, t))
    val data = (
      toks(1L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")) ++
      toks(2L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "k")) ++ // J(1,2)=9/11
      toks(3L, Seq("a", "b", "c", "d", "e", "f", "g", "h")) ++           // J(1,3)=8/10=0.8 boundary
      toks(4L, Seq("x", "y", "z")) ++                                     // disjoint
      toks(5L, Seq("a", "b", "c", "d", "e", "f", "g", "h"))               // J(3,5)=1
    ).toDF("doc_id", "term")
    val out = Dedup.prefixFilterJoin(data, "doc_id", tauNum = 8, tauDen = 10)
      .select("id_a", "id_b", "inter", "uni", "jac")
      .as[(Long, Long, Long, Long, Double)].collect()
      .sortBy(p => (p._1, p._2)).toSeq
    // naive ground truth: all pairs with J >= 0.8 — the >= boundary
    // pairs at exactly 8/10 MUST be included (exact integer gate)
    assert(out.map(p => (p._1, p._2)) == Seq(
      (1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 5L)))
    val m = out.map(p => (p._1, p._2) -> (p._3, p._4, p._5)).toMap
    assert(m((1L, 3L)) == ((8L, 10L, 0.8)))
    assert(m((3L, 5L)) == ((8L, 8L, 1.0)))
    assert(m((1L, 2L)) == ((9L, 11L, 0.818182)))

    // completeness on a randomized corpus: prefix filtering must find
    // EXACTLY the pairs a brute-force all-pairs verify finds
    val rnd = new scala.util.Random(7)
    val docs = (0L until 40L).map { i =>
      val base = (0 until 12).map(j => s"t${(i % 4) * 3 + j % 9}")
      val noise = if (rnd.nextBoolean()) Seq(s"n${rnd.nextInt(5)}") else Nil
      (i, (base ++ noise).distinct)
    }
    val toksDf = docs.flatMap { case (i, ts) => ts.map(t => (i, t)) }
      .toDF("doc_id", "term")
    val got = Dedup.prefixFilterJoin(toksDf, "doc_id", 8, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sets = docs.toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      ia = sets(a).toSet.intersect(sets(b).toSet).size
      un = sets(a).size + sets(b).size - ia
      if ia * 10 >= un * 8
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")

    // partition invariance
    val got13 = Dedup.prefixFilterJoin(toksDf.repartition(13), "doc_id", 8, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got13 == got)
  }

  test("lshCollisionAudit: S-curve tracks theory, exact-copy pairs always collide") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Dedup.lshCollisionAudit(docs, "doc_id", "text",
        bands = 16, rowsPerBand = 4)
      .select("id_a", "keep_lvl", "jaccard", "n_hit_bands", "collided",
        "p_theory")
      .as[(Long, Long, Double, Long, Boolean, Double)].collect().toSeq
    assert(out.size == docs.count())
    // keep level 10 => variant is an exact copy: J = 1, all 16 bands hit
    val copies = out.filter(_._2 == 10L)
    assert(copies.nonEmpty &&
      copies.forall(p => p._3 == 1.0 && p._4 == 16L && p._5))
    // S-curve brackets: high-J pairs always collide, low-J almost never
    val hi = out.filter(_._3 >= 0.7)
    assert(hi.nonEmpty && hi.forall(_._5), "J >= 0.7 must always collide")
    val lo = out.filter(_._3 <= 0.1)
    val loRate = lo.count(_._5).toDouble / lo.size
    assert(lo.nonEmpty && loRate < 0.05, s"J <= 0.1 collision rate $loRate")
    // mid-band: the empirical rate must be within the binomial noise of
    // the mean theoretical probability (the audit's whole point)
    val mid = out.filter(p => p._3 >= 0.3 && p._3 <= 0.6)
    val emp = mid.count(_._5).toDouble / mid.size
    val theo = mid.map(_._6).sum / mid.size
    assert(mid.size >= 30 && math.abs(emp - theo) < 0.15,
      s"mid-band empirical $emp vs theory $theo over ${mid.size} pairs")
  }

  test("ndcgAtK: 1.0 on identical lists, reversal and misses discount correctly") {
    def leg(q: Long, ids: Seq[Long]) =
      ids.zipWithIndex.map { case (n, i) => (q, n, i + 1) }
    val exact = (leg(1L, Seq(10L, 11L, 12L, 13L, 14L)) ++
      leg(2L, Seq(20L, 21L, 22L, 23L, 24L)) ++
      leg(3L, Seq(30L, 31L, 32L, 33L, 34L)))
      .toDF("query_id", "neighbor_id", "rnk")
    val approx = (leg(1L, Seq(10L, 11L, 12L, 13L, 14L)) ++   // identical
      leg(2L, Seq(24L, 23L, 22L, 21L, 20L)) ++               // reversed
      leg(3L, Seq(90L, 91L, 92L, 93L, 94L)))                 // all misses
      .toDF("query_id", "neighbor_id", "rnk")
    val out = Similarity.ndcgAtK(spark, exact, approx, k = 5)
      .select("query_id", "n_rel_found", "ndcg")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L, 5L, 1.0)), "perfect ranking must score exactly 1")
    assert(out(2) == ((3L, 0L, 0.0)), "zero overlap must score exactly 0")
    // reversed: right set, wrong order — strictly between 0 and 1
    assert(out(1)._2 == 5L && out(1)._3 > 0.6 && out(1)._3 < 1.0,
      s"reversed list scored ${out(1)._3}")
  }

  test("kcenterCoreset matches a brute-force Gonzalez greedy on random vectors") {
    val rng = new scala.util.Random(11)
    val dim = 8
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextDouble() * 2 - 1)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 6
    // brute-force greedy: seed min id, then argmin of max-sim, ties by id
    var chosen = List(vecs.minBy(_._1))
    var cand = vecs.filterNot(_._1 == chosen.head._1)
    for (_ <- 2 to k) {
      val pick = cand.map { case (id, v) =>
        (id, v, chosen.map(c => cos(v, c._2)).max)
      }.minBy { case (id, _, ms) => (ms, id) }
      chosen = chosen :+ ((pick._1, pick._2))
      cand = cand.filterNot(_._1 == pick._1)
    }
    val want = chosen.map(_._1).zipWithIndex.map { case (id, i) => (i + 1, id) }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.kcenterCoreset(df, "vec_id", "embedding", k)
      .as[(Int, Long)].collect().toList
    assert(got == want, s"got $got want $want")
  }

  test("mutualTopK keeps only reciprocal pairs and demotes hubs") {
    import spark.implicits._
    // hand-built k-NN frame (k=2): 1↔2 reciprocal at ranks (1,2);
    // 9 is a hub — in everyone's list, but its own list ranks only 1
    // and 2, so (3,9)/(4,9) must NOT survive; (1,9) does (rank 1 both)
    val topk = Seq(
      (1L, 2L, 1), (1L, 9L, 2),
      (2L, 9L, 1), (2L, 1L, 2),
      (3L, 9L, 1), (3L, 1L, 2),
      (4L, 9L, 1), (4L, 2L, 2),
      (9L, 1L, 1), (9L, 2L, 2))
      .toDF("query_id", "neighbor_id", "rnk")
    val got = Similarity.mutualTopK(topk)
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1, 2), (1L, 9L, 2, 1), (2L, 9L, 1, 2)))
  }
}
