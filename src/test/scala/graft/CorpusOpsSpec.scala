package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CorpusOps, TextCorpus, CoreQueries => C}

/** Corpus-curation operators (round-4 surface): deterministic hash
  * split, per-domain quota cap, benchmark decontamination, vocabulary
  * head — plus the distributed exact quantile's equivalence to Spark's
  * own buffering `percentile`. */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("hashSplit is a pure function of id: stable across partitionings, ~80/10/10") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val a = CorpusOps.hashSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = CorpusOps.hashSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "split assignment must not depend on partitioning")
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size)
    assert(math.abs(frac("train") - 0.80) < 0.15)
    assert(frac.keySet == Set("train", "val", "test"))
  }

  test("domainCap keeps at most `cap` rows per domain, best-score-first") {
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.8), (3L, "a", 0.7),
      (4L, "b", 0.5), (5L, "b", 0.5)).toDF("id", "dom", "sc")
    val out = CorpusOps.domainCap(df, "id", "dom", col("sc"), cap = 2)
      .select("id", "dom", "rk").as[(Long, String, Int)].collect().toSet
    // domain a: top-2 by score; domain b: score tie broken by id
    assert(out == Set((1L, "a", 1), (2L, "a", 2), (4L, "b", 1), (5L, "b", 2)))
  }

  test("decontaminate counts distinct shared shingles; clean docs are absent") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares "alpha beta gamma", "beta gamma delta"
      (2L, "zeta eta theta iota kappa"),      // clean
      (3L, "alpha beta gamma")                // shares exactly one shingle
    ).toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(corpus, bench, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("bloomDecontaminate is row-identical to the exact scan and narrows") {
    import graft.operators.{Dedup, PipelineQueries}
    import graft.sources.Tables
    // real corpus slice: bench = docs < 20, corpus = the rest (q61's split)
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("__sh"))
      .localCheckpoint()
    val bench = sets.filter(col("doc_id") < 20)
    val corpus = sets.filter(col("doc_id") >= 20)
    val plain = CorpusOps.decontaminateFromSets(corpus, bench, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(plain.nonEmpty, "fixture must have overlap or the test is vacuous")
    // native codegen'd BloomFilterMightContain probe — the gate shape
    val bloom = CorpusOps.bloomDecontaminateFromSets(
        corpus, bench, "doc_id", expectedItems = 10000L)
      .as[(Long, Long)].collect().toMap
    assert(bloom == plain, "bloom-prefiltered result diverged from the exact scan")
    // the split must leave clean docs, else narrowing is unobservable
    assert(plain.size < corpus.count(),
      "split leaves no clean docs; narrowing unobservable")
  }

  test("vocabTopTerms ranks by count desc then term asc") {
    val df = Seq("b b b a a c", "a c", "").toDF("text")
    val out = TextCorpus.vocabTopTerms(df, "text", k = 10)
      .select("term", "n", "rnk").as[(String, Long, Int)].collect().toList
    // counts: a=3, b=3, c=2, ""=1 (empty doc contributes no tokens)
    assert(out == List(("a", 3L, 1), ("b", 3L, 2), ("c", 2L, 3)))
  }

  test("stratifiedSample: exact ceil quota per stratum, stable across partitionings") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val out = CorpusOps.stratifiedSample(docs, "doc_id", "lang", pct = 20)
    val got = out.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    for ((lang, n) <- totals)
      assert(got(lang) == (n * 20 + 99) / 100,
        s"$lang: quota must be ceil(20% of $n)")
    val again = CorpusOps.stratifiedSample(docs.repartition(5), "doc_id", "lang", pct = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("Quality: duplicate keys surface with counts; null FKs are not orphans; observe rides the action") {
    import graft.operators.Quality
    val dups = Quality.duplicateKeys(
        Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v"), Seq("k"))
      .as[(Long, Long)].collect().toSet
    assert(dups == Set((1L, 2L)))
    val child = Seq((Some(1L), "x"), (Some(9L), "orphan"), (None, "null-fk"))
      .toDF("fk", "v")
    val parent = Seq(1L, 2L).toDF("id")
    val orphans = Quality.fkViolations(child, parent, Seq("fk"), Seq("id"))
      .select("v").as[String].collect().toSeq
    assert(orphans == Seq("orphan"), "null FK must not count as a violation")
    val (obsDf, obs) = Quality.observed(child, Seq("fk"))
    assert(obsDf.count() == 3)
    assert(obs.get("n_rows") == 3L && obs.get("n_null_fk") == 1L)
  }

  test("profileTable: one-pass per-column facts with null and dtype dispatch") {
    import graft.operators.Quality
    val df = Seq((Some(1L), Some("a")), (Some(2L), None),
      (None, Some("b")), (Some(2L), Some("a"))).toDF("k", "v")
    val got = Quality.profileTable(df, Seq("k", "v"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double],
        Option[String], Option[String])].collect().map(r => r._1 -> r).toMap
    assert(got("k") == (("k", 3L, 1L, 2L, Some(1.0), Some(2.0), None, None)))
    assert(got("v") == (("v", 3L, 1L, 2L, None, None, Some("a"), Some("b"))))
  }

  test("benfordAudit and fdAudit on hand-built data") {
    import graft.operators.Quality
    // values 10.00-19.99 and one 900.00: digit 1 dominates; zero rows drop
    val vals = ((0 until 40).map(i => 10.0 + i * 0.25) ++ Seq(900.0, 0.0))
      .toDF("x")
    val b = Quality.benfordAudit(vals, "x")
      .as[(Int, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(b(1)._2 == 40L && b(9)._2 == 1L && b.size == 2)
    assert(b(1)._3 == 0.9756 && b(1)._4 == 0.301)
    val fd = Seq((1, "a"), (1, "a"), (2, "b"), (2, "c")).toDF("k", "v")
    val held = Quality.fdAudit(fd.filter(col("k") === 1), "held", "k", "v")
      .as[(String, Long, Long, Boolean)].head()
    val broken = Quality.fdAudit(fd, "broken", "k", "v")
      .as[(String, Long, Long, Boolean)].head()
    assert(held == (("held", 1L, 0L, true)))
    assert(broken == (("broken", 2L, 1L, false)))
  }

  test("quantileNormalize equals the naive cume_dist window, ties included") {
    import graft.operators.CoreQueries
    val rng = new scala.util.Random(23)
    // heavy ties + outliers — the rank transform's home turf
    val df = (1 to 500).map(i =>
      (i.toLong, math.floor(rng.nextGaussian() * 3).toDouble +
        (if (i % 50 == 0) 1000.0 else 0.0))).toDF("id", "x")
    val got = CoreQueries.quantileNormalize(df, "x")
      .select(col("id"), col("__cd")).as[(Long, Double)].collect().toMap
    val naive = df.withColumn("cd",
        org.apache.spark.sql.functions.cume_dist().over(
          org.apache.spark.sql.expressions.Window.orderBy("x")))
      .select(col("id"), col("cd")).as[(Long, Double)].collect().toMap
    assert(got.size == 500 && naive.forall { case (id, cd) => got(id) == cd },
      "two-level CDF must equal the naive window bit-for-bit")
  }

  test("kAnonymityAudit: population and diversity flags per quasi group") {
    import graft.operators.Quality
    val rows = Seq(
      // group (1, a): 3 rows, sensitive {10, 20} -> k-violation at k=4
      (1, "a", 10L), (1, "a", 20L), (1, "a", 10L),
      // group (2, b): 4 rows but every sensitive identical -> l-violation
      (2, "b", 7L), (2, "b", 7L), (2, "b", 7L), (2, "b", 7L),
      // group (3, c): 4 rows, 3 distinct -> clean
      (3, "c", 1L), (3, "c", 2L), (3, "c", 3L), (3, "c", 1L))
      .toDF("q1", "q2", "s")
    val got = Quality.kAnonymityAudit(rows, Seq("q1", "q2"), "s",
        k = 4L, minL = 2L)
      .as[(Int, String, Long, Long, Boolean, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got((1, "a")) == ((3L, 2L, true, false)))
    assert(got((2, "b")) == ((4L, 1L, false, true)))
    assert(got((3, "c")) == ((4L, 3L, false, false)))
  }

  test("repetitionStats: top-token and duplicated-3-gram fractions on hand cases") {
    val docs = Seq(
      (1L, "a a a b"),  // top 3/4; grams {a a a, a a b} distinct -> 0
      (2L, "a a a a"),  // top 1.0; grams {a a a}x2 -> dup 1/2
      (3L, "x y"),      // no 3-grams -> 0; top 1/2
      (4L, ""))         // empty -> both 0
      .toDF("doc_id", "text")
    val got = TextCorpus.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0.75, 0.0)))
    assert(got(2L) == ((1.0, 0.5)))
    assert(got(3L) == ((0.5, 0.0)))
    assert(got(4L) == ((0.0, 0.0)))
  }

  test("fluencyScore: mean unigram log10 prob; empty doc is null; case-folded") {
    val docs = Seq((1L, "a A b"), (2L, "B"), (3L, "")).toDF("doc_id", "text")
    // corpus tokens (lowered): a a b b -> N=4, p(a)=p(b)=0.5
    val got = TextCorpus.fluencyScore(docs, "doc_id", "text")
      .as[(Long, Option[Double])].collect().toMap
    val l = math.floor(math.log10(0.5) * 1e4 - 0.5) / 1e4 // round-half-away at -0.30103
    assert(got(1L).contains(-0.301) || got(1L).contains(l))
    assert(got(2L) == got(1L), "single-token doc has the same mean")
    assert(got(3L).isEmpty, "empty doc has no tokens to average")
  }

  test("weightedSample: w=1 keeps all, w=0 keeps none, deterministic, clamped") {
    val df = (0L until 200L).toDF("id")
    assert(CorpusOps.weightedSample(df, "id", lit(1.0)).count() == 200)
    assert(CorpusOps.weightedSample(df, "id", lit(0.0)).count() == 0)
    assert(CorpusOps.weightedSample(df, "id", lit(5.0)).count() == 200,
      "weights clamp to 1")
    val a = CorpusOps.weightedSample(df, "id", lit(0.3))
      .select("id").as[Long].collect().toSet
    val b = CorpusOps.weightedSample(df.repartition(7), "id", lit(0.3))
      .select("id").as[Long].collect().toSet
    assert(a == b, "membership is a pure function of id")
    assert(a.size > 30 && a.size < 90, s"~30% expected, got ${a.size}")
  }

  test("packSequences: bucketed prefix sum equals the naive global cumsum") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((0L, 100), (1L, 400), (2L, 200), (3L, 50), (5L, 900), (8L, 10))
      .toDF("id", "tok")
    val packed = CorpusOps.packSequences(df, "id", col("tok"),
        blockTokens = 512L, bucketSize = 2L)
      .select("id", "start_off", "block").as[(Long, Long, Long)].collect().toSet
    val naive = df.withColumn("start_off",
        coalesce(sum(col("tok").cast("long")).over(
          Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("block", floor(col("start_off") / lit(512L)).cast("long"))
      .select("id", "start_off", "block").as[(Long, Long, Long)].collect().toSet
    assert(packed == naive)
  }

  test("packSequences: block spans cover straddles exactly; empty docs touch zero blocks") {
    val df = Seq((0L, 100), (1L, 400), (2L, 200), (3L, 50), (5L, 900),
      (8L, 10), (9L, 0)).toDF("id", "tok")
    val byId = CorpusOps.packSequences(df, "id", col("tok"),
        blockTokens = 512L, bucketSize = 2L)
      .select("id", "start_off", "end_off", "block", "n_blocks")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // cumsum: 0:[0,100) 1:[100,500) 2:[500,700) 3:[700,750) 5:[750,1650)
    // 8:[1650,1660) 9:[1660,1660) — blocks are 512 tokens wide
    assert(byId(1L) == ((100L, 500L, 0L, 1L)))   // inside block 0
    assert(byId(2L) == ((500L, 700L, 0L, 2L)))   // straddles 0 -> 1
    assert(byId(5L) == ((750L, 1650L, 1L, 3L)))  // spans blocks 1..3
    assert(byId(9L) == ((1660L, 1660L, 3L, 0L))) // empty doc: no block
    assert(byId.size == 7)
  }

  test("distributed histogram quantile equals Spark's exact percentile (q58 == q50)") {
    val exact = C.quantileStats(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val dist = C.quantileStatsDist(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(dist == exact,
      "histogram interpolation must reproduce percentile() exactly")
  }

  test("chunkPlan: full coverage with the promised overlap, exact boundaries, empty docs dropped") {
    // stride = 10 − 3 = 7; docs: 0 tokens (no chunks), 5 (one short),
    // 10 (exactly one), 11 (two: tail of 4), 24 (three: 0-10, 7-17, 14-24)
    val docs = Seq(
      (0L, ""),
      (1L, (1 to 5).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (3L, (1 to 11).map(i => s"t$i").mkString(" ")),
      (4L, (1 to 24).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = CorpusOps.chunkPlan(docs, "doc_id", "text",
        maxTokens = 10, overlap = 3)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0, 0L, 5L),
      (2L, 0, 0L, 10L),
      (3L, 0, 0L, 10L), (3L, 1, 7L, 4L),
      (4L, 0, 0L, 10L), (4L, 1, 7L, 10L), (4L, 2, 14L, 10L)), s"got $got")
    // invariants on every doc: chunks tile [0, n) with overlap ≥ 3
    // between consecutive chunks and the last chunk ending exactly at n
    for ((id, n) <- Seq(1L -> 5L, 2L -> 10L, 3L -> 11L, 4L -> 24L)) {
      val ch = got.filter(_._1 == id).toSeq.sortBy(_._2)
      assert(ch.head._3 == 0L && ch.last._3 + ch.last._4 == n)
      for (Seq(a, b) <- ch.sliding(2) if ch.size > 1)
        assert(a._3 + a._4 - b._3 == 3L, s"doc $id overlap")
    }
  }

  test("bucketedCumCounts equals the naive per-group window on adversarial data") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(43)
    // adversarial mix: a constant-value group (hi == lo), a one-row
    // group, a dense cluster (most values in one bucket), and a
    // uniform group — cnt weights > 1 throughout
    val rows =
      Seq.fill(200)(("const", 7.25, 1L + rng.nextInt(3))) ++
      Seq(("single", -3.0, 5L)) ++
      Seq.tabulate(300)(i => ("dense", if (i < 290) 1e-7 * i else i.toDouble,
        1L + rng.nextInt(2))) ++
      Seq.tabulate(500)(_ => ("uniform", rng.nextDouble() * 1e6 - 5e5,
        1L + rng.nextInt(4)))
    val hist = rows.toDF("g", "v", "cnt")
      .groupBy("g", "v").agg(sum("cnt").as("cnt"))
    val naive = hist
      .withColumn("cum", sum("cnt").over(Window.partitionBy("g").orderBy("v")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("g")))
      .select("g", "v", "cnt", "cum", "n")
      .as[(String, Double, Long, Long, Long)].collect().toSet
    val bucketed = graft.operators.CoreQueries
      .bucketedCumCounts(hist, Seq("g"))
      .select("g", "v", "cnt", "cum", "n")
      .as[(String, Double, Long, Long, Long)].collect().toSet
    assert(bucketed == naive,
      "two-level bucketed cumulative counts must be bit-identical to the global window")
  }

  test("nearDupAgainstReference reports only cross-side pairs above threshold") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val near = base.replace("tonight", "today") // one token differs — J well above 0.7
    val incoming = Seq(
      (1L, base),                 // near-dups ref 100
      (2L, base + " extra"),      // near-dups ref 100 AND doc 1 — but intra pair must not appear
      (3L, "completely different words about query engines and shuffles"))
      .toDF("doc_id", "text")
    val reference = Seq(
      (100L, near),
      (101L, "unrelated reference text with its own vocabulary entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupAgainstReference(incoming, reference, "doc_id", "text")
      .select("inc_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 100L)), s"planted cross pair missing: $got")
    assert(got.forall { case (i, r) => i < 100L && r >= 100L },
      s"only cross-side pairs may be reported, got $got")
    assert(!got.exists(_._1 == 3L), "unrelated doc must not pair")
  }

  test("dedupAgainstReference classifies ref-dups, batch-dups and new docs") {
    import graft.operators.Dedup
    val reference = Seq((100L, "alpha beta"), (101L, "gamma delta"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "  ALPHA   beta "),  // normalizes onto ref fingerprint
      (2L, "epsilon zeta"),     // new, and canonical of its batch group
      (3L, "epsilon  ZETA"),    // batch-dup of 2
      (4L, "eta theta"))        // new
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstReference(incoming, reference, "doc_id", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "dup_of_ref", 2L -> "new",
      3L -> "dup_in_batch", 4L -> "new"), s"got $got")
  }

  test("zValue: Morton interleave on known bit patterns; audit beats natural on a grid") {
    import graft.operators.Layout
    // interleave(0b11, 0b00)=0b0101=5, interleave(0b00, 0b11)=0b1010=10,
    // interleave(0b11, 0b11)=0b1111=15, and bit 4 of x lands at bit 8
    val pat = Seq((3L, 0L, 5L), (0L, 3L, 10L), (3L, 3L, 15L), (16L, 0L, 256L))
      .toDF("x", "y", "want")
    val bad = pat.withColumn("got", Layout.zValue(col("x"), col("y")))
      .filter(col("got") =!= col("want")).count()
    assert(bad == 0L)
    // 64x64 uniform grid in natural row-major order: a z-order layout
    // with 16 cells must touch ~sqrt(16)=4 cells per point predicate,
    // the natural row-major layout keeps x-locality but scans every
    // bucket for a y predicate
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong * 64 + y, x.toLong, y.toLong))).toDF("rid", "x", "y")
    val audit = Layout.zorderPruningAudit(grid, "rid", "x", "y",
      cells = 16, predX = 10L, predY = 20L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(audit("natural") == ((16L, 1L, 16L)),
      s"row-major: x-pruned, y-unpruned — got ${audit("natural")}")
    assert(audit("zorder") == ((16L, 4L, 4L)),
      s"zorder: both ~sqrt(cells) — got ${audit("zorder")}")
  }

  test("bigramLogProb: word order matters, short docs NULL, n_bigrams = len-1") {
    import graft.operators.TextCorpus
    // a corpus dominated by one fluent phrase; doc 10 repeats the
    // phrase in order, doc 11 uses the SAME words scrambled (unigram
    // distribution identical), doc 12 is too short to score
    val phrase = "the quick brown fox jumps"
    val docs = ((0L until 10L).map(i => (i, phrase)) ++
      Seq((10L, phrase + " " + phrase),
        (11L, "jumps the fox quick brown jumps brown the quick fox"),
        (12L, "solo"))).toDF("doc_id", "text")
    val got = TextCorpus.bigramLogProb(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_logp")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(12L) == ((None, None)), "short doc must be NULL")
    assert(got(10L)._1.contains(9L) && got(11L)._1.contains(9L))
    // in-order phrase text scores strictly higher than the scramble
    assert(got(10L)._2.get > got(11L)._2.get + 0.5,
      s"order-sensitivity: ${got(10L)._2} vs ${got(11L)._2}")
    // the pure phrase docs score highest of all scored docs
    assert(got(0L)._2.get >= got(10L)._2.get)
  }

  test("knLogProb: hand-computed interpolated Kneser-Ney, history mass sums to 1") {
    import graft.operators.TextCorpus
    // counts: (a,b)=2 (c,b)=1 (a,d)=1; ntypes=3; hist a:(c1=3,nf=2)
    // c:(c1=1,nf=1); cont b=2 d=1; D=0.75 ⇒
    //   P(b|a) = 1.25/3 + (0.75·2/3)(2/3) = 0.75
    //   P(b|c) = 0.25   + 0.75·(2/3)     = 0.75
    //   P(d|a) = 0.25/3 + (0.75·2/3)(1/3) = 0.25   (so Σ_w P(w|a) = 1)
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "c b"), (3L, "a d"))
      .toDF("doc_id", "text")
    val arrs = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(lower(col("text"))).as("a"))
    val got = TextCorpus.knLogProbFromArrs(docs, arrs, "doc_id")
      .select("doc_id", "n_bigrams", "avg_logp")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) == ((Some(1L), Some(-0.1249))), s"log10(0.75): ${got(0L)}")
    assert(got(2L) == ((Some(1L), Some(-0.1249))), s"log10(0.75): ${got(2L)}")
    assert(got(3L) == ((Some(1L), Some(-0.6021))), s"log10(0.25): ${got(3L)}")
  }

  test("cdcChunks: contiguous cover, short-text edges, digests survive a prepended preamble") {
    def chunksOf(texts: Seq[(Long, String)]) = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(call_function("graft_cdc_chunks", col("text"),
          lit(8), lit(64))).as("c"))
      .select(col("doc_id"), col("c.off"), col("c.len"), col("c.chunk_md5"))
      .as[(Long, Int, Int, String)].collect().toSeq.sortBy(r => (r._1, r._2))
    // deterministic 640-char text with enough hash variety to cut
    val text = (0 until 20).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"cdctest:$i".getBytes).map(b => f"${b & 0xff}%02x").mkString)
      .mkString
    val base = chunksOf(Seq((1L, text)))
    assert(base.nonEmpty)
    // chunks tile the text exactly: offsets contiguous, lens sum to length
    assert(base.head._2 == 1 && base.map(_._3).sum == text.length)
    base.sliding(2).foreach {
      case Seq((_, o1, l1, _), (_, o2, _, _)) => assert(o2 == o1 + l1)
      case _ => ()
    }
    // mask 64 with an 8-char window: expect ~len/64 chunks, loosely
    assert(base.length >= 3 && base.length <= 40, s"${base.length} chunks")
    // content-locality: prepending shifts offsets but every chunk
    // digest EXCEPT the first survives (the fixed-blocking contrast:
    // there every digest would change)
    val shifted = chunksOf(Seq((1L, "PREAMBLE-" + text)))
    val surviving = base.drop(1).map(_._4).toSet
    assert(surviving.subsetOf(shifted.map(_._4).toSet),
      "all post-edit chunk digests must survive a prepend")
    // short-text edges: under-window text is one whole chunk; empty none
    assert(chunksOf(Seq((2L, "abc"))) ==
      Seq((2L, 1, 3, java.security.MessageDigest.getInstance("MD5")
        .digest("abc".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)))
    assert(chunksOf(Seq((3L, ""))).isEmpty)
  }

  test("weightedReservoir: exact-n E-S sample, heavy weights dominate, monotone in weight, partition-invariant") {
    import graft.operators.CorpusOps
    val df = (0L until 1000L).map(i => (i, if (i == 7L) 10000L else 1L))
      .toDF("doc_id", "wt")
    val got = CorpusOps.weightedReservoir(df, "doc_id", col("wt"), n = 100)
      .select("doc_id", "w", "es_key", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 100 && got.map(_._4).sorted.toSeq == (1 to 100),
      "exactly n rows, dense ranks")
    assert(got.map(_._1).distinct.length == 100, "without replacement")
    // a 10000x-weight doc has key u^(1/10000) ~ 1: it must head the sample
    assert(got.minBy(_._4)._1 == 7L, "heavy doc must rank first")
    // raising a doc's weight can only improve its rank (key = ln(u)/w
    // rises toward 0); doc 500 boosted from 1 -> 50
    val rank500 = got.find(_._1 == 500L).map(_._4)
    val boosted = CorpusOps.weightedReservoir(
        df.withColumn("wt", when(col("doc_id") === 500L, 50L).otherwise(col("wt"))),
        "doc_id", col("wt"), n = 100)
      .select("doc_id", "rnk").as[(Long, Int)].collect()
      .find(_._1 == 500L).map(_._2)
    assert(boosted.isDefined &&
      rank500.forall(r => boosted.get <= r),
      s"monotone-in-weight violated: $rank500 -> $boosted")
    // order statistics over deterministic keys: partitioning-invariant
    val re = CorpusOps.weightedReservoir(df.repartition(13), "doc_id",
        col("wt"), n = 100)
      .select("doc_id", "w", "es_key", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(re.sortBy(_._4).toSeq == got.sortBy(_._4).toSeq,
      "sample must be partitioning-invariant")
  }

  test("kmvSplitOverlap: degenerate-exact under k, estimator in stderr bounds over k, partition-invariant") {
    import graft.operators.TextCorpus
    // universe: side A holds terms 0..5999, side B 4000..9999 —
    // exact overlap 2000, union 10000, jaccard 0.2
    val terms = ((0 until 6000).map(i => (true, s"t$i")) ++
      (4000 until 10000).map(i => (false, s"t$i")))
    val base = terms.toDF("side_a", "term")
    val got = TextCorpus.kmvSplitOverlap(base, "side_a", "term", k = 256)
      .as[(Int, Double, Double, Double, Double, Double, Long, Long, Long, Long)]
      .head()
    val (_, estA, estB, estU, estJ, estI, nA, nB, nU, nI) = got
    assert((nA, nB, nU, nI) == ((6000L, 6000L, 10000L, 2000L)),
      "exact counts ride the flags aggregate")
    // KMV stderr ~ 1/sqrt(k-2) ~ 6.3%; assert 4 sigma
    def within(est: Double, truth: Double, sigmas: Double = 4.0): Boolean =
      math.abs(est - truth) <= sigmas * truth / math.sqrt(254.0)
    assert(within(estA, 6000) && within(estB, 6000) && within(estU, 10000),
      s"distinct estimates out of bounds: $estA $estB $estU")
    assert(math.abs(estJ - 0.2) < 0.1, s"jaccard estimate: $estJ")
    assert(within(estI, 2000, sigmas = 8.0), s"intersect estimate: $estI")
    // degenerate rule: k above the universe size -> estimates ARE exact
    val small = TextCorpus.kmvSplitOverlap(base, "side_a", "term", k = 20000)
      .as[(Int, Double, Double, Double, Double, Double, Long, Long, Long, Long)]
      .head()
    assert(small._2 == 6000.0 && small._4 == 10000.0 && small._6 == 2000.0,
      s"sub-k sketches must be exact: $small")
    // sketches are order statistics: any partitioning yields the row
    val re = TextCorpus.kmvSplitOverlap(base.repartition(13), "side_a",
      "term", k = 256)
      .as[(Int, Double, Double, Double, Double, Double, Long, Long, Long, Long)]
      .head()
    assert(re == got, "sketch must be partitioning-invariant")
  }

  test("vocabGrowth: exact first-occurrence accounting, running totals, Heaps tails") {
    import graft.operators.TextCorpus
    import graft.functions.{TextFunctions => T}
    // bucketSize 2 → 3 buckets. Bucket 0 introduces {a,b,c,d}; bucket 1
    // repeats only known words (ZERO new terms — the repetitive-corpus
    // tail, local beta = 0); bucket 2 introduces all-new words (the
    // ID-noise tail, local beta near 1).
    val docs = Seq(
      (0L, "a b c"), (1L, "a d"),
      (2L, "a b c d"), (3L, "b c"),
      (4L, "e f g"), (5L, "h i")).toDF("doc_id", "text")
    val arrs = docs.select(col("doc_id"),
      T.tokens(lower(col("text"))).as("a"))
    val got = TextCorpus.vocabGrowth(arrs, "doc_id", bucketSize = 2)
      .orderBy("bkt")
      .as[(Long, Long, Long, Long, Long, Option[Double])].collect()
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(got.map(_._2).toSeq == Seq(5L, 6L, 5L), "bucket token counts")
    assert(got.map(_._3).toSeq == Seq(4L, 0L, 5L), "new-term arrivals")
    assert(got.map(_._4).toSeq == Seq(5L, 11L, 16L), "running tokens")
    assert(got.map(_._5).toSeq == Seq(4L, 4L, 9L), "running vocab")
    assert(got(0)._6.isEmpty, "first bucket has no neighbor - beta null")
    assert(got(1)._6.contains(0.0), "no new vocab - local beta exactly 0")
    // bucket 2: beta = (log 9 - log 4)/(log 16 - log 11) ~ 2.16 - the
    // audit flags super-unit growth (pure-novelty tail) loudly
    assert(got(2)._6.exists(b => b > 1.0),
      s"all-new bucket must show super-unit local beta: ${got(2)._6}")
    // invariant: final cum_vocab equals the corpus' distinct term count
    val distinct = arrs.select(explode(col("a"))).distinct().count()
    assert(got.last._5 == distinct)
  }

  test("misraGries: worst-case guarantees hold for EVERY term, any partitioning, decrements live") {
    // Zipf-ish stream with a long tail: term_i appears ~1000/i times
    // for i in 1..50, plus 2000 singletons — with k=8 the counters are
    // under constant eviction pressure (decrement path exercised on
    // most arrivals), which is exactly where a broken implementation
    // inflates estimates or drops a guaranteed-frequent term.
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"t$i")) ++
      (1 to 2000).map(i => s"rare$i")
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.size.toLong
    for (k <- Seq(8, 64); parts <- Seq(1, 7, 32)) {
      val toks = rows.toDF("term").repartition(parts)
      val mg = TextCorpus.misraGries(toks, "term", k)
      val bound = n / (k + 1)
      assert(mg.size <= k, s"k=$k parts=$parts: summary size ${mg.size}")
      // two-sided bound for EVERY term (absent => estimate 0)
      exact.foreach { case (t, f) =>
        val est = mg.getOrElse(t, 0L)
        assert(est <= f, s"k=$k parts=$parts $t: est $est > exact $f")
        assert(est >= f - bound,
          s"k=$k parts=$parts $t: est $est < ${f - bound}")
      }
      // guaranteed capture of everything above the threshold
      exact.filter(_._2 > bound).foreach { case (t, f) =>
        assert(mg.contains(t),
          s"k=$k parts=$parts: frequent $t (n=$f > $bound) not captured")
      }
      // sanity: with k=8 the eviction pressure actually bit (some mass
      // was decremented away, otherwise the test exercises nothing)
      if (k == 8)
        assert(mg.values.sum < exact.filterKeys(mg.contains).values.sum,
          s"parts=$parts: no decrement ever fired — stream not adversarial")
    }
  }

  test("epochShards: per-epoch bijection onto 0..N-1, balanced shards, independent epoch orders") {
    import org.apache.spark.sql.functions._
    val n = 103 // deliberately not a multiple of the shard count
    val docs = (0L until n.toLong).toDF("doc_id")
    val out = CorpusOps.epochShards(docs, "doc_id", epochs = 2, shards = 8)
      .as[(Long, Int, Int, Long)].collect()
    assert(out.length == 2 * n)
    for (e <- 0 to 1) {
      val ep = out.filter(_._2 == e)
      // (shard, pos) ↔ global rank shard+8·pos must be a bijection
      val ranks = ep.map { case (_, _, sh, pos) => sh + 8L * pos }.sorted
      assert(ranks.toSeq == (0L until n.toLong).toSeq,
        s"epoch $e ranks are not a permutation of 0..${n - 1}")
      // round-robin ⇒ shard sizes within 1
      val sizes = ep.groupBy(_._3).map(_._2.length)
      assert(sizes.max - sizes.min <= 1, s"epoch $e shard sizes $sizes")
    }
    // different epochs = different permutations (103! makes a chance
    // collision of the two full orders impossible)
    val byEpoch = out.groupBy(_._2).map { case (e, rows) =>
      e -> rows.sortBy(_._1).map(r => (r._3, r._4)).toSeq
    }
    assert(byEpoch(0) != byEpoch(1), "epoch orders must be independent")
  }

  test("dpCountRelease: Laplace inverse-CDF determinism, scale ~ 1/eps, clamp") {
    val df = (1L to 100L).map(i => (i, if (i <= 90) "big" else "tiny"))
      .toDF("id", "src")
    val rel = graft.operators.Quality
      .dpCountRelease(df, "src", epsilons = Seq(0.25, 1.0, 4.0))
    val rows = rel.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2), r.getDouble(3), r.getLong(5))).toSeq

    // deterministic: a re-run and a re-partitioned run agree exactly
    val again = graft.operators.Quality
      .dpCountRelease(df.repartition(7), "src", Seq(0.25, 1.0, 4.0))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getLong(5))).toSeq
    assert(rows.sortBy(r => (r._1, r._2)) == again.sortBy(r => (r._1, r._2)))

    // the noise at eps is exactly 1/eps times the eps=1 draw when the
    // uniform is the same — it isn't (salt includes eps), so instead
    // pin the closed form directly against an independent JVM eval
    for ((src, eps, n, noise, released) <- rows) {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp:$eps:$src".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      val cen = u - 0.5
      val expect = BigDecimal(-1.0 / eps * math.signum(cen) *
        math.log(1 - 2 * math.abs(cen)))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(noise - expect) < 1e-9, s"$src eps=$eps")
      assert(released == math.max(0L, math.floor(
        BigDecimal(n + noise).setScale(10,
          BigDecimal.RoundingMode.HALF_UP).toDouble + 0.5).toLong))
    }

    // utility ladder: mean |noise| must fall as eps rises (law of the
    // mechanism, and with 2 groups x 3 eps it holds for these draws)
    val byEps = rows.groupBy(_._2).view
      .mapValues(rs => rs.map(r => math.abs(r._4)).sum / rs.size).toMap
    assert(byEps(0.25) > byEps(1.0) && byEps(1.0) > byEps(4.0))
  }

  test("phraseSearch: deterministic election, overlapping consecutive matches, position base") {
    val docs = Seq(
      (1L, "a b a b a"),   // (a,b)@0,2  (b,a)@1,3
      (2L, "b a b"),       // (a,b)@1    (b,a)@0
      (3L, "c c c")        // no a/b
    ).toDF("doc_id", "text")
    // counts: (a,b)=3, (b,a)=3, (c,c)=2 -> tie broken by w1 asc: (a,b)
    val out = TextCorpus.phraseSearch(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    assert(out.toSeq == Seq((1L, 2L, 0L, "a", "b"), (2L, 1L, 1L, "a", "b")))
    // partition invariance
    val re = TextCorpus.phraseSearch(docs.repartition(5), "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(re.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("zipfFit: exact power-law corpus fits slope -1 with r2 ~ 1") {
    // term k appears round(1000/k) times, k = 1..50 -> ln cnt = ln 1000 - ln k
    val toks = (1 to 50).flatMap(k =>
      Seq.fill(math.round(1000.0 / k).toInt)(f"t$k%03d"))
      .map(Tuple1(_)).toDF("term")
    val out = TextCorpus.zipfFit(toks, topK = 50).collect()(0)
    val (n, slope, r2) = (out.getLong(0), out.getDouble(1), out.getDouble(3))
    assert(n == 50L)
    assert(math.abs(slope + 1.0) < 0.01, s"slope=$slope")
    assert(r2 > 0.999, s"r2=$r2")
    // determinism across partitionings
    val re = TextCorpus.zipfFit(toks.repartition(7), topK = 50).collect()(0)
    assert(out.toSeq == re.toSeq)
  }

  test("bpeEncode: per-doc token counts equal an independent JVM replay of the merges") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val merges = TextCorpus.bpeMerges(docs, "text", rounds = 4)
      .collect().map(r => (r.getInt(1).toChar.toString + r.getInt(2).toChar,
        (0xE000 + r.getInt(0)).toChar.toString))
    val enc = TextCorpus.bpeEncode(docs, "doc_id", "text", rounds = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    val texts = docs.select("doc_id", "text")
      .as[(Long, String)].collect()
    for ((id, t) <- texts) {
      val encoded = merges.foldLeft(t) { case (s, (p, sym)) =>
        s.replace(p, sym)
      }
      assert(enc(id) == ((t.length.toLong, encoded.length.toLong)), s"doc $id")
    }
    // compression must be strictly > 1 somewhere (merges fired)
    assert(texts.exists { case (id, t) => enc(id)._2 < t.length })
  }

  test("bpeMerges: hand-checked elections, greedy-run rewrite, PUA chaining") {
    // round 0: pairs aa:3 (overlapping counted), ab:2 -> merge aa->E000
    //   "aaab" -> "ab" (greedy left-to-right), "aab" -> "b"
    //   chars 4+3=7 -> 3+2=5
    // round 1: pairs in {"ab","b"}: E000+a:1, ab:1, E000+b:1
    //   -> tie on cnt=1 broken by binary order: (E000,a) sorts after
    //   "ab" (multi-byte > ascii), so "ab" wins -> E001
    val docs = Seq((1L, "aaab"), (2L, "aab")).toDF("doc_id", "text")
    val m = TextCorpus.bpeMerges(docs, "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(m(0) == ((0, 'a'.toInt, 'a'.toInt, 3L, 5L)))
    assert(m(1) == ((1, 'a'.toInt, 'b'.toInt, 1L, 4L)))

    // repeated runs merge greedily: "aaaa" counts 3 adjacent pairs but
    // rewrites to exactly two symbols (replace is non-overlapping)
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val r0 = TextCorpus.bpeMerges(runs, "text", rounds = 1).collect()(0)
    assert(r0.getLong(3) == 3L && r0.getLong(4) == 2L)

    // merged symbols participate in later rounds: "abab" round 0 merges
    // ab->E000 giving ""; round 1's best pair is (E000,E000)
    val chain = Seq((1L, "ababab")).toDF("doc_id", "text")
    val c = TextCorpus.bpeMerges(chain, "text", rounds = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(c(0) == (('a'.toInt, 'b'.toInt, 3L)))
    assert(c(1) == ((0xE000, 0xE000, 2L)))

    // partition invariance of the election
    val docs2 = graft.sources.Tables.documents(spark, dir)
    val one = TextCorpus.bpeMerges(docs2, "text", rounds = 3).collect().toSeq
    val many = TextCorpus.bpeMerges(docs2.repartition(13), "text", rounds = 3)
      .collect().toSeq
    assert(one.map(_.toSeq) == many.map(_.toSeq))
  }

  test("poissonBootstrapCI: brackets the mean, collapses on constants, sane width") {
    import graft.operators.Quality
    val docs = graft.sources.Tables.documents(spark, dir)
    val out = Quality.poissonBootstrapCI(docs, "doc_id",
        graft.functions.TextFunctions.tokenCount(col("text")), reps = 200)
      .as[(Long, Int, Double, Double, Double)].collect()(0)
    val (n, reps, mean, lo, hi) = out
    assert(n == 500L && reps == 200)
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] must bracket $mean")
    assert(hi - lo > 0.5 && hi - lo < 20.0,
      s"95% CI width ${hi - lo} implausible for n=500 token counts")
    // a constant column has zero sampling variance: CI degenerates to
    // the constant exactly, at any replicate weighting
    val const = Quality.poissonBootstrapCI(docs, "doc_id", lit(7L), reps = 50)
      .as[(Long, Int, Double, Double, Double)].collect()(0)
    assert(const._3 == 7.0 && const._4 == 7.0 && const._5 == 7.0)
  }

  test("hllPairOverlap: union estimate dominates both sides, exact bounds hold") {
    import graft.operators.PipelineQueries
    val out = PipelineQueries.hllPairOverlap(spark, dir)
      .select("sa", "sb", "est_a", "est_b", "est_union", "est_inter",
        "n_union", "n_inter")
      .as[(String, String, Double, Double, Double, Double, Long, Long)]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { p =>
      // register domination => the union estimate can never fall below
      // either side's (monotone in every register)
      assert(p._5 >= math.max(p._3, p._4) - 1e-9,
        s"union est ${p._5} below sides (${p._3}, ${p._4}) for ${p._1}/${p._2}")
      // exact sanity: intersection bounded by union
      assert(p._8 <= p._7)
      // inclusion-exclusion identity on the rounded estimates
      assert(math.abs((p._3 + p._4 - p._5) - p._6) < 1e-3)
    }
  }

  test("groupKFoldAudit: groups never span folds, shares sum to 1") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val arrs = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokens(lower(col("text"))).as("a"))
    val out = CorpusOps.groupKFoldAudit(arrs, "source", "a", k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._1).forall(f => f >= 0 && f < 5))
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-4)
    // the leakage guarantee: per-group fold assignment is a FUNCTION
    // of the group — distinct (source, fold) pairs == distinct sources
    val fold = pmod(graft.functions.TextFunctions.md5Int(
      concat(lit("fold:"), col("source")), 15), lit(5L))
    val pairs = arrs.select(col("source"), fold.as("f")).distinct().count()
    val groups = arrs.select("source").distinct().count()
    assert(pairs == groups, "a source must land in exactly one fold")
    assert(out.map(_._3).sum == groups, "fold group counts partition sources")
  }

  test("lshDesignTable: boundary bandings, b*r invariant, a unique argmin at tau=0.8") {
    import graft.operators.Dedup
    val t = Dedup.lshDesignTable(totalHashes = 64, tauGrid = 80)
      .as[(Int, Int, Long, Long, Long, Boolean)].collect().toSeq
    assert(t.size == 7 && t.forall(r => r._1 * r._2 == 64))
    // one band of 64 rows: collides only on near-exact sets -> no FP
    val and64 = t.find(_._2 == 64).get
    assert(and64._3 == 0L && and64._4 > 0L)
    // 64 bands of 1 row: collides almost always -> no FN
    val or64 = t.find(_._2 == 1).get
    assert(or64._4 == 0L && or64._3 > 0L)
    assert(t.count(_._6) == 1, "tau=0.8 has a unique best banding here")
    val best = t.find(_._6).get
    assert(best._5 == t.map(_._5).min)
  }

  test("waterfillCaps: hand-checked level, conservation, no-cap degenerate") {
    def arrs(rows: (String, Int)*) = rows.zipWithIndex.map {
      case ((src, n), i) => (i.toLong, src, Seq.fill(n)("w"))
    }.toDF("doc_id", "source", "a")
    val df = arrs("a" -> 10, "b" -> 10, "c" -> 100, "d" -> 100)
    // B = 220/2 = 110; k = 2 smallest kept fully, C = (110-20)/2 = 45
    val out = CorpusOps.waterfillCaps(df, "source", "a", 1, 2)
      .select("source", "mass", "budget", "cap", "capped", "alloc")
      .as[(String, Long, Long, Double, Boolean, Double)].collect().toSeq
    assert(out.map(_._4).distinct == Seq(45.0))
    assert(out.map(t => (t._1, t._2, t._5, t._6)) == Seq(
      ("a", 10L, false, 10.0), ("b", 10L, false, 10.0),
      ("c", 100L, true, 45.0), ("d", 100L, true, 45.0)))
    // allocations conserve the budget exactly
    assert(out.map(_._6).sum == out.head._3.toDouble)
    // full budget -> nobody capped, alloc = mass
    val full = CorpusOps.waterfillCaps(df, "source", "a", 1, 1)
      .select("source", "capped", "alloc")
      .as[(String, Boolean, Double)].collect().toSeq
    assert(full.forall(t => !t._2))
    assert(full.map(_._3) == Seq(10.0, 10.0, 100.0, 100.0))
  }

  test("sourceGini: 0 on equal masses, (n-1)/n fully concentrated, deterministic ties") {
    import graft.operators.TextCorpus
    def arrs(rows: (String, Int)*) = rows.zipWithIndex.map {
      case ((src, n), i) => (i.toLong, src, Seq.fill(n)("w"))
    }.toDF("doc_id", "source", "a")
    // four sources, equal 10-token mass -> Gini exactly 0
    val eq = TextCorpus.sourceGini(
      arrs("a" -> 10, "b" -> 10, "c" -> 10, "d" -> 10), "source", "a")
      .as[(Long, Long, Double, Double)].collect()(0)
    assert(eq == ((4L, 40L, 0.0, 0.25)))
    // all mass in one source -> (n-1)/n = 0.75
    val conc = TextCorpus.sourceGini(
      arrs("a" -> 0, "b" -> 0, "c" -> 0, "d" -> 40), "source", "a")
      .as[(Long, Long, Double, Double)].collect()(0)
    assert(conc == ((4L, 40L, 0.75, 1.0)))
  }

  test("retentionCohorts: hand-checked cohort matrix on a 3-user timeline") {
    import java.sql.Timestamp
    import graft.operators.{CoreQueries => CQ}
    // write a tiny events parquet and point the loader at it
    val tmp = java.nio.file.Files.createTempDirectory("graft_ret_").toString
    def ev(id: Long, day: Int, uid: Long) =
      (id, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), uid, "view", 1.0, "{}")
    Seq(
      ev(1, 1, 100L), ev(2, 1, 100L),  // u100 cohort d1, active d1
      ev(3, 3, 100L),                  // u100 back at offset 2
      ev(4, 1, 200L), ev(5, 2, 200L),  // u200 cohort d1, offsets 0,1
      ev(6, 2, 300L)                   // u300 cohort d2, offset 0
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = CQ.retentionCohorts(spark, tmp)
      .select("cohort_day", "day_offset", "n_active", "n_cohort", "retention")
      .as[(java.sql.Date, Int, Long, Long, Double)].collect().toSeq
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    assert(out == Seq(
      (d1, 0, 2L, 2L, 1.0),   // both d1 users active on day 0
      (d1, 1, 1L, 2L, 0.5),   // only u200 back next day
      (d1, 2, 1L, 2L, 0.5),   // only u100 back at offset 2
      (d2, 0, 1L, 1L, 1.0)))
  }

  test("bpeRoundtrip: reverse expansion reconstructs exactly, incl. nested PUA symbols") {
    import graft.operators.TextCorpus
    // "ababab": round 0 merges ab -> E000, round 1 merges (E000,E000)
    // -> E001 whose pair CONTAINS an earlier symbol — the nesting case
    val docs = Seq((1L, "ababab"), (2L, "aa"), (3L, ""), (4L, "xyz"))
      .toDF("doc_id", "text")
    val fit = TextCorpus.bpeFit(docs, "text", rounds = 2)
    val out = TextCorpus.bpeRoundtrip(docs, "doc_id", "text", fit)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.forall(_._4), s"round-trip must be lossless: $out")
    // round 1 elects (E000,E000) cnt 2 — E001's pair contains an
    // earlier symbol, so decode MUST expand in reverse order
    assert(out(0) == ((1L, 6L, 2L, true)))
    assert(out(1) == ((2L, 2L, 2L, true)))
    assert(out(2) == ((3L, 0L, 0L, true)))
  }

  test("hllDistinct: estimate within the m=64 error band, multiset- and partition-invariant") {
    val items = (1 to 2000).map(i => ("k", s"item-$i"))
    val df = items.toDF("key", "item")
    val r = TextCorpus.hllDistinct(df, "key", "item", p = 6).collect()(0)
    val est = r.getAs[Double]("est")
    val exact = r.getAs[Long]("n_exact")
    assert(exact == 2000L)
    // 1.04/sqrt(64) = 13% stderr; allow 3 sigma
    assert(math.abs(est - 2000.0) / 2000.0 < 0.39, s"est $est too far from 2000")

    // HLL is a multiset sketch: duplicating every item changes nothing
    val dup = (items ++ items).toDF("key", "item")
    val r2 = TextCorpus.hllDistinct(dup, "key", "item", p = 6).collect()(0)
    assert(r2.getAs[Double]("est") == est &&
      r2.getAs[Long]("z_scaled") == r.getAs[Long]("z_scaled"))

    // register max is associative/commutative: partitioning-invariant
    val r3 = TextCorpus.hllDistinct(df.repartition(13), "key", "item", p = 6)
      .collect()(0)
    assert(r3.getAs[Double]("est") == est)

    // small-cardinality key exercises the linear-counting regime
    val small = (1 to 30).map(i => ("s", s"x-$i")).toDF("key", "item")
    val rs = TextCorpus.hllDistinct(small, "key", "item", p = 6).collect()(0)
    assert(rs.getAs[Long]("v_zero") > 0)
    assert(math.abs(rs.getAs[Double]("est") - 30.0) < 12.0)

    // the typed Aggregator is the SAME sketch: identical estimate from
    // identical registers, on both regimes (raw + linear counting)
    import graft.functions.{TextFunctions => T}
    for (src <- Seq(df, small)) {
      val relational = TextCorpus.hllDistinct(src, "key", "item", p = 6)
        .collect()(0).getAs[Double]("est")
      val agg = org.apache.spark.sql.functions.udaf(
        new graft.functions.HllDistinctAgg(6),
        org.apache.spark.sql.Encoders.scalaLong)
      val typed = src
        .select(T.md5Int(col("item"), 15).as("__h"))
        .agg(graft.functions.MysqlFunctions.oracleRound(
          agg(col("__h")), 4).as("est"))
        .collect()(0).getAs[Double]("est")
      assert(typed == relational,
        s"Aggregator/relational HLL divergence: $typed vs $relational")
    }
  }

  test("blocklistScan: df-ranked list, tiered action policy, zero-hit docs keep") {
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc"),
      (3L, "aaaa bbbb"), (4L, "aaaa zz"), (5L, "qq zz")
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
    // df: aaaa=4 bbbb=3 cccc=2 dddd=1; k=2 -> blocklist {aaaa,bbbb}
    val out = TextCorpus.blocklistScan(docs, toks, "doc_id", k = 2, minLen = 4)
      .select("doc_id", "n_hits", "n_hit_terms", "action")
      .as[(Long, Long, Long, String)].collect().toSeq
    // short terms (zz, qq) can never enter the list, so doc 5 is clean
    assert(out == Seq(
      (1L, 2L, 2L, "flag"), (2L, 2L, 2L, "flag"), (3L, 2L, 2L, "flag"),
      (4L, 1L, 1L, "flag"), (5L, 0L, 0L, "keep")))

    // list join must broadcast: the corpus-side token stream is never
    // shuffled for the membership probe
    val plan = TextCorpus.blocklistScan(docs, toks, "doc_id", 2, 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("charEntropy: exact bits on uniform/degenerate alphabets, map-only plan") {
    val docs = Seq(
      (1L, "abcd"),          // uniform over 4 letters -> exactly 2 bits
      (2L, "aaaa"),          // single letter -> 0 bits
      (3L, "aabb"),          // uniform over 2 -> 1 bit
      (4L, "")               // empty -> 0 by convention
    ).toDF("doc_id", "text")
    val out = TextCorpus.charEntropy(docs, "doc_id", "text")
      .select("doc_id", "n_letters", "n_distinct_letters", "entropy_bits",
        "max_letter_frac")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out(0) == ((1L, 4L, 4L, 2.0, 0.25)))
    assert(out(1) == ((2L, 4L, 1L, 0.0, 1.0)))
    assert(out(2) == ((3L, 4L, 2L, 1.0, 0.5)))
    assert(out(3) == ((4L, 0L, 0L, 0.0, 0.0)))

    // the 100 TB claim: a pure projection — no Exchange anywhere
    val plan = TextCorpus.charEntropy(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.contains("rangepartitioning"),
      plan.take(2000))
  }

  test("gopherRules: each rule flips at its boundary; plan has no corpus shuffle") {
    val the20 = (("the " * 19) + "cat").trim         // 20 words, has stopword
    val docs = Seq(
      (1L, the20),                                    // r1 lower bound pass
      (2L, "the " * 10),                              // 10 words: r1 fail
      (3L, ("ab " * 30).trim),                        // no stopword: r3 fail; mean len 2: r2 fail
      (4L, (("x1 " * 10) + ("the cat sat on mat " * 4)).trim) // digits: r5 30 words 10 non-alpha -> 20*5=100 >= 120? fail
    ).toDF("doc_id", "text")
    val m = TextCorpus.gopherRules(docs, "doc_id", "text", 20, 400)
      .select("doc_id", "r1_count", "r2_wordlen", "r3_stopword",
        "r4_dominance", "r5_alpha", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(t => t._1 -> (t._2, t._3, t._4, t._5, t._6, t._7)).toMap
    // doc 1: 20 words with "the"x19 — passes r1/r2/r3 but the mode
    // dominance rule (19*4 > 20) kills it
    assert(m(1L)._1 && m(1L)._2 && m(1L)._3 && !m(1L)._4 && !m(1L)._6)
    // doc 2: 10 words — below the count floor
    assert(!m(2L)._1 && !m(2L)._6)
    // doc 3: no stopword and mean word length 2 (< 3)
    assert(!m(3L)._3 && !m(3L)._2 && !m(3L)._6)
    // doc 4: 10 of 30 words contain a digit — alpha fraction 2/3 < 4/5
    assert(!m(4L)._5 && !m(4L)._6)

    // zero-shuffle claim: quality filtering is embarrassingly parallel
    val plan = TextCorpus.gopherRules(docs, "doc_id", "text", 20, 400)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("segmentBoilerplate: exact threshold boundary, per-group isolation") {
    // group g1: 4 docs; "hdr" in 3 of 4 (df*2=6 > 4 → boiler),
    // "half" in exactly 2 of 4 (df*2=4 > 4 is FALSE → kept: strict >)
    // group g2: "hdr" appears once — same text, different group → kept
    val docs = Seq(
      (1L, "g1", "hdr | half | a"),
      (2L, "g1", "hdr | half | b"),
      (3L, "g1", "hdr | c"),
      (4L, "g1", "d"),
      (5L, "g2", "hdr | e"),
      (6L, "g2", "f"))
      .toDF("id", "grp", "text")
    val out = CorpusOps.segmentBoilerplate(docs, "id", "grp", "text")
      .select("grp", "segment", "is_boiler")
      .as[(String, String, Boolean)].collect().toSet
    val boiler = out.filter(_._3).map(t => (t._1, t._2))
    assert(boiler == Set(("g1", "hdr")),
      s"only g1's hdr clears the strict >1/2 threshold; got $out")
  }

  test("seasonal MASE: hand-built series — perfect weekly pattern scores mase 0") {
    // 21 days, exact period-7 pattern: f7 errors are all 0, f1 errors
    // aren't → mase = 0; a second type with a flat series after day 1
    // has mae1 = mae7 = 0 edge avoided by construction (values vary)
    val base = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def day(d: Int) = new java.sql.Timestamp(base.getTime + d * 86400000L)
    val rows = for {
      d <- 0 until 21
      i <- 0 until (1 + (d % 7)) // daily count cycles 1..7 weekly
    } yield (d.toLong * 100 + i, day(d), 1L, "periodic", 0.0, "{}")
    val events = rows.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val daily = events.groupBy(col("event_type"),
        to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    val out = daily
      .withColumn("f1", lag(col("n"), 1).over(w))
      .withColumn("f7", lag(col("n"), 7).over(w))
      .filter(col("f7").isNotNull)
      .groupBy("event_type")
      .agg(avg(abs(col("n") - col("f7"))).as("mae7"),
        avg(abs(col("n") - col("f1"))).as("mae1"))
      .as[(String, Double, Double)].head()
    assert(out._2 == 0.0, s"period-7 series must have zero seasonal error: $out")
    assert(out._3 > 0.0)
  }

  test("hard negatives exclude same-label vectors even when they are the nearest") {
    // vec 0 (label 0) has an IDENTICAL twin vec 1 with the SAME label
    // (cos 1.0 — nearest possible) and a far vector 2 with another
    // label; the twin must not appear
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1),
      (3L, Array(0.9f, 0.1f, 0f, 0f), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val norm = graft.operators.Similarity.normalizeCorpus(emb, "vec_id", "embedding")
    val corpus = norm.join(emb.select("vec_id", "label"), "vec_id")
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    val got = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec"), col("label"))
      .crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("sim",
        graft.operators.Similarity.pairDot(col("qvec"), col("cvec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect().toSet
    assert(got == Set((3L, 1), (2L, 2)),
      s"same-label twin must be excluded, hardest negative first: $got")
  }

  test("moment-shard merge equals direct variance on random partitions") {
    val rng = new scala.util.Random(17)
    val vals = (1 to 500).map(_ => (s"g${rng.nextInt(7)}", rng.nextInt(1000).toLong))
    val df = vals.toDF("g", "v")
    val shards = df.groupBy("g").agg(count(lit(1)).as("n"),
      avg(col("v")).as("mean"), (var_pop(col("v")) * count(lit(1))).as("m2"))
    val merged = shards.agg(
        sum(col("n")).as("n"),
        (sum(col("n") * col("mean")) / sum(col("n"))).as("mm"),
        sum(col("m2")).as("m2s"),
        sum(col("n") * col("mean") * col("mean")).as("nm2"))
      .select(((col("m2s") + col("nm2") - col("n") * col("mm") * col("mm"))
        / col("n")).as("var"))
      .as[Double].head()
    val direct = df.agg(var_pop(col("v"))).as[Double].head()
    assert(math.abs(merged - direct) < 1e-6,
      s"merge algebra drifted: merged=$merged direct=$direct")
  }

  test("q227 evaluates all contract rules in ONE lineitem scan") {
    val gate = SparkEntry.queries("q227_data_contract")(spark,
      "/root/testdata/sf0.001")
    val plan = gate.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"7 rules must share one scan, found $scans:\n${plan.take(1500)}")
  }

  test("q228 reads the PERSISTED rollup, not a recompute of the base history") {
    val gate = SparkEntry.queries("q228_rollup_merge")(spark,
      "/root/testdata/sf0.001")
    val plan = gate.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rollup_"),
      s"base side must come from the persisted rollup:\n${plan.take(1500)}")
    // and the merge must equal the from-scratch recompute
    val truth = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Date, String, Long)].collect().toSet
    val got = gate.select("day", "event_type", "n")
      .as[(java.sql.Date, String, Long)].collect().toSet
    assert(got == truth)
  }

  test("URL canonicalization collapses tracking variants and nothing else") {
    // q218's gate at sf0.001: raw URLs are all distinct (utm_ref
    // varies) but canonical forms collapse to the (lang, doc_id%50)
    // grid — and the canonical count must be strictly smaller
    val out = SparkEntry.queries("q218_url_canonical")(spark,
        "/root/testdata/sf0.001")
      .select("n_urls", "n_raw_distinct", "n_canon_distinct")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (n, raw, canon) =>
      assert(raw == n, "utm_ref keeps every raw URL distinct")
      assert(canon < raw, "canonicalization must collapse tracking variants")
    }
  }

  test("KS statistic: 0 on identical samples, 1 on disjoint supports (hand-built)") {
    def ks(a: Seq[Long], b: Seq[Long]): Double = {
      val vals = (a.map((_, 1L, 0L)) ++ b.map((_, 0L, 1L)))
        .toDF("v", "ca", "cb")
        .groupBy("v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val na = a.size.toLong; val nb = b.size.toLong
      vals.coalesce(1)
        .withColumn("cuma", sum("ca").over(w))
        .withColumn("cumb", sum("cb").over(w))
        .agg(max(abs(col("cuma") * nb - col("cumb") * na)).as("d"))
        .as[Long].head().toDouble / (na * nb)
    }
    assert(ks(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 0.0)
    assert(ks(Seq(1L, 2L), Seq(10L, 11L)) == 1.0)
    // shifted uniform: D = 0.5 exactly (half the mass separated)
    assert(ks(Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L)) == 0.5)
  }

  test("rendezvousShard: in range, deterministic, and HRW-stable — movers go ONLY to the new shard") {
    val ids = (0L until 3000L).toDF("k")
    val a = ids.select(col("k"),
        CorpusOps.rendezvousShard(col("k"), 8).as("s8"),
        CorpusOps.rendezvousShard(col("k"), 9).as("s9"))
      .as[(Long, Int, Int)].collect()
    assert(a.forall(r => r._2 >= 0 && r._2 < 8 && r._3 >= 0 && r._3 < 9))
    // the HRW theorem: adding shard 8 can only steal keys for itself —
    // any key whose assignment changed must now be on the new shard
    val movers = a.filter(r => r._2 != r._3)
    assert(movers.nonEmpty && movers.forall(_._3 == 8),
      s"${movers.count(_._3 != 8)} keys moved to an OLD shard")
    // movement is ~1/9 of keys (binomial; generous 3-sigma band)
    val frac = movers.length.toDouble / a.length
    assert(frac > 0.08 && frac < 0.15, s"moved fraction $frac far from 1/9")
  }

  test("q272: dataset card covers its nine metrics with consistent values") {
    import spark.implicits._
    val card = SparkEntry.queries("q272_dataset_card")(spark, dir)
      .as[(String, Double)].collect().toMap
    assert(card.keySet == Set("n_docs", "n_langs", "n_sources",
      "exact_dup_rate", "mean_chars", "p50_chars", "tokens_total",
      "mean_tokens", "pct_en"))
    val n = graft.sources.Tables.documents(spark, dir).count().toDouble
    assert(card("n_docs") == n)
    assert(card("exact_dup_rate") >= 0 && card("exact_dup_rate") < 1)
    assert(card("pct_en") > 0 && card("pct_en") < 1)
    assert(math.abs(card("mean_tokens") - card("tokens_total") / n) < 1e-3)
  }

  test("q269: fertility rollup conserves docs; micro-averages bounded sanely") {
    import spark.implicits._
    val rows = SparkEntry.queries("q269_bpe_fertility")(spark, dir)
      .select("n_docs", "fertility", "compression")
      .as[(Long, Double, Double)].collect()
    val total = graft.sources.Tables.documents(spark, dir).count()
    assert(rows.map(_._1).sum == total)
    rows.foreach { case (_, fert, comp) =>
      // char-level BPE with 6 merges: tokens >> words, chars >= tokens
      assert(fert > 1.0, s"fertility must exceed 1 token/word: $fert")
      assert(comp >= 1.0, s"compression must be >= 1 char/token: $comp")
    }
  }
}
