package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: seeded generators are reproducible, and the
  * output checks reject the defects they exist to catch. No Spark session
  * is needed — generators and checks are plain Scala. */
class ChecksSpec extends AnyFunSuite {

  private def allTables(seed: Long): Seq[Table] =
    Gen.dictionary(seed, 600, treeDepth = 5).tables ++ Gen.locations(seed, 200).tables ++
      Seq(Gen.orderTypes(seed, 20), Gen.corpusTable(Gen.corpus(seed, 300)))

  test("the same seed generates identical tables, another seed different ones") {
    val a = allTables(7)
    assert(Gen.md5(a) == Gen.md5(allTables(7)))
    val b = allTables(8)
    assert(Gen.md5(a) != Gen.md5(b))
    // lookup tables (classes, datatypes, sources, tag names) are fixed;
    // every table of generated rows must move with the seed
    val seeded = Set("concept", "concept_name", "concept_set", "concept_answer",
      "concept_reference_term", "location", "location_attribute", "order_type", "corpus")
    a.zip(b).filter(p => seeded(p._1.name)).foreach { case (x, y) =>
      assert(Gen.md5(Seq(x)) != Gen.md5(Seq(y)), s"table ${x.name} ignores the seed")
    }
  }

  test("the planted set tree has the advertised size and depth, all live") {
    val d = Gen.dictionary(3, 800, treeDepth = 6)
    val t = d.tables.map(t => t.name -> t).toMap
    val root = t("concept_name").rows.find(r => r.getString(1) == d.treeRoot.get).get.getLong(0)
    val members = t("concept_set").rows.groupBy(_.getLong(0)).map { case (s, rs) =>
      s -> rs.map(_.getLong(1)) }
    def depth(n: Long): Int = members.get(n).map(ms => 1 + ms.map(depth).max).getOrElse(0)
    def reach(n: Long): Set[Long] = members.getOrElse(n, Nil).toSet.flatMap(reach) + n
    val tree = reach(root)
    assert(tree.size == d.treeSize)
    assert(depth(root) == d.treeDepth)
    val retired = t("concept").rows.filter(_.getInt(4) == 1).map(_.getLong(0)).toSet
    assert((tree & retired).isEmpty)
  }

  private val header = "uuid,Void/Retire,Fully specified name:en,Members,Answers"
  private val good = Seq(header,
    "u1,,Alpha,,", "u2,,Beta,,", "u3,,Question,,Alpha;Beta", "u4,,Set,Question;Beta,")

  test("the order check accepts referents listed before their referrers") {
    assert(Checks.conceptsCsv(good.mkString("", "\n", "\n"), 4).isEmpty)
  }

  test("the order check rejects a referrer moved above its referent") {
    val moved = Seq(good(0), good(4), good(1), good(2), good(3))
    val problems = Checks.conceptsCsv(moved.mkString("", "\n", "\n"), 4)
    assert(problems.exists(_.contains("references 'Question' before it appears")))
  }

  test("the concepts check rejects a wrong row count") {
    assert(Checks.conceptsCsv(good.mkString("", "\n", "\n"), 5).nonEmpty)
  }

  test("CSV parsing handles quoted cells with commas, quotes and newlines") {
    val rows = Checks.parseCsv("a,b\n\"x, y\",\"say \\\"hi\\\"\"\n\"two\nlines\",z\n")
    assert(rows == IndexedSeq(IndexedSeq("a", "b"), IndexedSeq("x, y", "say \"hi\""),
      IndexedSeq("two\nlines", "z")))
  }

  private val corpus = Gen.corpus(5, 400)
  private val reps = Checks.exactReps(corpus.docs)
  // planted near pairs between exact-duplicate representatives, as the
  // verify stage reports them
  private val nearPairs: Seq[(Long, Long, Double)] = corpus.planted.collect {
    case (o, c, subs) if subs > 0 =>
      val (a, b) = (math.min(reps(o), reps(c)), math.max(reps(o), reps(c)))
      (a, b, math.rint(Checks.jaccard(corpus.text(a), corpus.text(b)) * 1e4) / 1e4)
  }.distinct

  test("planted near-duplicates stay above the 0.7 Jaccard threshold") {
    assert(nearPairs.nonEmpty)
    assert(nearPairs.forall(_._3 >= 0.79))
    assert(Checks.verifiedPairs(nearPairs, corpus.text, 0.7, nearPairs.length, 1).isEmpty)
  }

  test("the corpus check rejects a pair list with one pair below threshold") {
    val (a, b, _) = nearPairs.head
    val stranger = corpus.docs.map(_._1).find(id => id != a && id != b &&
      Checks.jaccard(corpus.text(a), corpus.text(id)) < 0.7).get
    val bad = nearPairs.updated(0, (a, stranger, 0.75))
    val problems = Checks.verifiedPairs(bad, corpus.text, 0.7, bad.length, 1)
    assert(problems.exists(_.contains(s"pair ($a,$stranger)")))
  }

  test("recall and kept rows follow from the verified pairs") {
    assert(Checks.recall(corpus.planted, reps, nearPairs) == 1.0)
    assert(Checks.recall(corpus.planted, reps, nearPairs.tail) < 1.0)
    val survivors = reps.values.toSeq.distinct
    val kept = Checks.keptIds(survivors, Seq((1L, 5L, 0.9), (5L, 9L, 0.8)))
    assert(survivors.filter(Set(5L, 9L)).forall(!kept(_)))
    assert(survivors.filterNot(Set(5L, 9L)).forall(kept))
  }
}
