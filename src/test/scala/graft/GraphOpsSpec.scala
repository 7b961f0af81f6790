package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{CycleException, GraphOps}

/** Ports of the reference's four unit tests
  * (`concepts/src/test_concept_csv_export.py:33-103`), which pin the
  * graph/order semantics: topological reorder invariants, BFS closure
  * membership, cycle witness message, and the mini end-to-end pipeline.
  * Fixtures mirror FIXTURES.md §1 — concepts as (key, answers, members)
  * with `;`-joined referent lists, re-expressed as edge DataFrames.
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Edge list (src = referrer, dst = referent) from (key, answers, members). */
  private def conceptEdges(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("key", "answers", "members")
      .select(col("key").as("src"),
        explode(filter(
          concat(split(col("answers"), ";"), split(col("members"), ";")),
          r => length(r) > 0)).as("dst"))

  private val reorderFixture = Seq(
    ("a", "", "b;c"),
    ("b", "", "d;e"),
    ("c", "d;e", ""),
    ("d", "", ""),
    ("e", "", ""))

  test("move_referring_concepts_down: every referrer sorts after all referents") {
    val edges = conceptEdges(reorderFixture)
    val concepts = reorderFixture.map(_._1).toDF("key")
    val ordered = GraphOps.topoOrder(concepts, "key", edges)
      .orderBy(col("__ord"), col("key"))
      .select("key").as[String].collect().toSeq
    def idx(k: String) = ordered.indexOf(k)
    assert(idx("a") > idx("b")); assert(idx("a") > idx("c"))
    assert(idx("b") > idx("d")); assert(idx("b") > idx("e"))
    assert(idx("c") > idx("d")); assert(idx("c") > idx("e"))
  }

  test("get_all_concepts_in_tree: BFS closure membership for roots a, b, d") {
    val edges = conceptEdges(reorderFixture)
    def tree(root: String): Set[String] =
      GraphOps.bfsClosure(edges, Seq(root).toDF("node"))
        .as[String].collect().toSet
    assert(tree("a") == Set("a", "b", "c", "d", "e"))
    assert(tree("b") == Set("b", "d", "e"))
    assert(tree("d") == Set("d"))
  }

  test("detect_cycles: raises with the c --> d --> f --> c witness") {
    val edges = conceptEdges(Seq(
      ("a", "", "b;c"),
      ("b", "", ""),
      ("c", "d;e", ""),
      ("d", "e;f", ""),
      ("e", "", ""),
      ("f", "c;e", "")))
    val e = intercept[CycleException] { GraphOps.detectCycles(edges) }
    assert(e.getMessage.contains("c --> d --> f --> c"))
    // only one cycle reported (reference counts one "\n\t" separator)
    assert(e.getMessage.split("-->").length == 4)
  }

  test("detect_cycles: acyclic graph passes silently") {
    GraphOps.detectCycles(conceptEdges(reorderFixture))
  }

  test("detect_cycles: a tail into a cycle is cut off the witness") {
    val edges = Seq(("a", "z"), ("z", "y"), ("y", "z")).toDF("src", "dst")
    val e = intercept[CycleException] { GraphOps.detectCycles(edges) }
    assert(e.getMessage == "Cycle detected: z --> y --> z")
  }

  test("detect_cycles: a self-loop is its own witness") {
    val edges = Seq(("a", "a"), ("b", "a")).toDF("src", "dst")
    val e = intercept[CycleException] { GraphOps.detectCycles(edges) }
    assert(e.getMessage == "Cycle detected: a --> a")
  }

  test("topoOrder on cyclic edges raises detectCycles' witness") {
    val edges = conceptEdges(Seq(
      ("a", "", "b;c"),
      ("c", "d", ""),
      ("d", "f", ""),
      ("f", "c", "")))
    val want = intercept[CycleException] { GraphOps.detectCycles(edges) }
    val got = intercept[CycleException] {
      GraphOps.topoOrder(Seq("a", "b", "c").toDF("key"), "key", edges)
    }
    assert(got.getMessage == want.getMessage)
    assert(got.getMessage.contains("c --> d --> f --> c"))
  }

  test("null edge endpoints match no node: no depth, no cycle") {
    val edges = Seq[(Option[String], Option[String])](
      (Some("a"), None), (None, Some("b")), (Some("c"), Some("a")),
      (None, None)).toDF("src", "dst")
    GraphOps.detectCycles(edges)
    val ord = GraphOps.topoOrder(Seq("a", "b", "c").toDF("key"), "key", edges)
      .as[(String, Int)].collect().toMap
    assert(ord == Map("a" -> 0, "b" -> 0, "c" -> 1))
    // the distributed fixpoints agree
    assert(GraphOps.findCycleNodes(edges).count() == 0)
    val depth = GraphOps.topoDepth(edges).filter(col("node").isNotNull)
      .as[(String, Int)].collect().toMap
    assert(depth == ord)
  }

  test("integration: tree-filter, cycle-check, reorder, exclude => [c, a]") {
    val fixture = Seq(
      ("a", "", "b"),
      ("b", "c", ""),
      ("c", "", ""),
      ("d", "", ""))
    val edges = conceptEdges(fixture)
    val inTree = GraphOps.bfsClosure(edges, Seq("a").toDF("node"))
    val treeEdges = edges
      .join(inTree.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
    GraphOps.detectCycles(treeEdges)
    val ordered = GraphOps.topoOrder(inTree, "node", treeEdges)
    val excluded = ordered
      .join(Seq("b").toDF("node"), Seq("node"), "left_anti")
    val res = excluded.orderBy(col("__ord"), col("node"))
      .select("node").as[String].collect().toSeq
    assert(res == Seq("c", "a"))
  }

  test("kCorePeel: clique survives, tail peels away transitively, peeling reaches fixpoint") {
    // 6-clique (degree 5 each) + a chain 10-11-12 hanging off node 0:
    // chain nodes have degree <= 2 < 4 and peel off over two rounds;
    // node 0 then still has degree 5 inside the clique
    val clique = for (a <- 0L to 5L; b <- 0L to 5L if a != b) yield (a, b)
    val chain = Seq((0L, 10L), (10L, 0L), (10L, 11L), (11L, 10L),
      (11L, 12L), (12L, 11L))
    val edges = (clique ++ chain).toDF("src", "dst")
    val got = GraphOps.kCorePeel(edges, k = 4, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 5L).map(_ -> 5L).toMap,
      s"only the 6-clique survives a 4-core peel, got $got")
    // fixpoint: an extra round changes nothing
    val more = GraphOps.kCorePeel(edges, k = 4, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(more == got, "peeling must be at fixpoint")
    // k above the clique degree empties the graph
    assert(GraphOps.kCorePeel(edges, k = 6, iters = 3).count() == 0L)
  }

  test("connectedComponentsStar: path graph, stars, and parity with min-propagation") {
    // a 12-node path: diameter 11, the case min-propagation pays 11
    // rounds for and star contraction collapses in O(log)
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.connectedComponentsStar(path)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 11L).map(_ -> 0L).toMap, s"one path component, got $got")
    // multiple components + reversed/duplicated/self-loop edges
    val messy = Seq((5L, 3L), (3L, 5L), (3L, 4L), (9L, 9L),
      (20L, 21L), (22L, 21L), (40L, 41L)).toDF("src", "dst")
    val gotMessy = GraphOps.connectedComponentsStar(messy)
      .as[(Long, Long)].collect().toMap
    assert(gotMessy == Map(3L -> 3L, 4L -> 3L, 5L -> 3L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 40L -> 40L, 41L -> 40L))
    // parity with the min-propagation implementation on a mixed graph
    val mixed = ((0L until 30L).map(i => (i, i + 1)) ++
      Seq((50L, 60L), (60L, 70L), (80L, 81L))).toDF("src", "dst")
    val star = GraphOps.connectedComponentsStar(mixed)
      .as[(Long, Long)].collect().toMap
    val prop = GraphOps.connectedComponents(mixed.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(star == prop, "star contraction must agree with min-propagation")
  }

  test("connectedComponentsStar: a dedup-shaped graph stays within its Spark-job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // ~1k nodes cut into near-dup groups: pairs and cliques of 3-5, in
    // random orientation — the shape verified near-dup pairs take
    val rng = new scala.util.Random(17)
    val ids = rng.shuffle((0L until 1000L).toList)
    val groups = Iterator.unfold(ids) { rest =>
      Option.when(rest.nonEmpty)(rest.splitAt(Seq(2, 2, 3, 4, 5)(rng.nextInt(5))))
    }.toSeq
    val edges = (for {
      g <- groups; a <- g; b <- g if a < b
    } yield if (rng.nextBoolean()) (a, b) else (b, a)).toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(200) // drain listener events from earlier tests
      jobs.set(0)
      val comps = GraphOps.connectedComponentsStar(edges).count()
      Thread.sleep(200)
      assert(comps == 1000L)
      // measured 5 jobs: AQE coalesces the edges into one partition,
      // whose union-find is the whole answer. The signature-checked star
      // rounds this replaced ran 23; a return to a multi-round fixpoint
      // costs 8 jobs per round.
      assert(jobs.get <= 6, s"connectedComponentsStar ran ${jobs.get} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hits: iters = 0 is rejected up front, not an NPE at union time") {
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      GraphOps.hits(edges, iters = 0)
    }
    assert(e.getMessage.contains("iters >= 1"))
  }

  test("basketPairs: pair multiset equals the self-join formulation") {
    val items = Seq((10L, 3L), (10L, 1L), (10L, 2L), (20L, 5L), (20L, 4L),
      (30L, 7L)).toDF("basket", "item")
    val got = GraphOps.basketPairs(items, "basket", "item")
      .as[(Long, Long)].collect().sorted.toSeq
    // independent replay: join-based a<b pairs per basket
    val l = items.select(col("basket"), col("item").as("a"))
    val r = items.select(col("basket"), col("item").as("b"))
    val want = l.join(r, Seq("basket")).filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().sorted.toSeq
    assert(got == want && got == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // duplicate baskets with a repeated pair keep MULTISET semantics
    val dup = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L))
      .toDF("basket", "item")
    assert(GraphOps.basketPairs(dup, "basket", "item")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (1L, 2L)))
    // duplicate items WITHIN a basket never make a self-pair — parity
    // with the a<b join formulation this helper replaced: [1,1,2]
    // yields (1,2) twice (each dup 1 crosses the 2) and NO (1,1)
    val dupIn = Seq((30L, 1L), (30L, 1L), (30L, 2L)).toDF("basket", "item")
    val gotDup = GraphOps.basketPairs(dupIn, "basket", "item")
      .as[(Long, Long)].collect().sorted.toSeq
    val li = dupIn.select(col("basket"), col("item").as("a"))
    val ri = dupIn.select(col("basket"), col("item").as("b"))
    val wantDup = li.join(ri, Seq("basket")).filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().sorted.toSeq
    assert(gotDup == wantDup && gotDup == Seq((1L, 2L), (1L, 2L)))
  }

  test("basketPairs: a hot basket fails fast at the cap, not as a straggler") {
    val hot = (1L to 50L).map(i => (99L, i)).toDF("basket", "item")
    val e = intercept[Exception] {
      GraphOps.basketPairs(hot, "basket", "item", maxBasket = 10).count()
    }
    assert(e.getMessage.contains("hot") || e.getMessage.contains("cap"),
      s"unexpected message: ${e.getMessage}")
    // at the cap the basket still pairs: 50 items => C(50,2) pairs
    assert(GraphOps.basketPairs(hot, "basket", "item", maxBasket = 50)
      .count() == 50L * 49 / 2)
  }
}
