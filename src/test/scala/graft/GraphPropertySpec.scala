package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphOps

/** Property-style tests (SURVEY §5.4) over seeded random graphs:
  * random DAGs produce a valid topological order; planting a back-edge
  * makes the cycle detector fire. Deterministic seed — each case is a
  * handful of Spark jobs, so the case count stays small. */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** DAG by construction: edges only from higher to lower node index. */
  private def randomDag(rng: scala.util.Random): List[(String, String)] = {
    val n = 3 + rng.nextInt(8)
    List.fill(n * 2) {
      val a = 1 + rng.nextInt(n)
      val b = rng.nextInt(a)
      (s"n$a", s"n$b")
    }.distinct
  }

  /** The distributed reference for a rooted topoOrder: bfsClosure from
    * `root` and the edges leaving that closure. */
  private def closure(edges: org.apache.spark.sql.DataFrame,
      root: org.apache.spark.sql.DataFrame) = {
    val nodes = GraphOps.bfsClosure(edges, root)
    (nodes, edges.join(nodes.withColumnRenamed("node", "src"), Seq("src"), "left_semi"))
  }

  test("random DAGs: topoDepth yields a valid topological order") {
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val edges = randomDag(rng)
      val depth = GraphOps.topoDepth(edges.toDF("src", "dst"))
        .as[(String, Int)].collect().toMap
      edges.foreach { case (src, dst) =>
        assert(depth(src) > depth(dst),
          s"$src (depth ${depth(src)}) must be deeper than $dst (${depth(dst)}) in $edges")
      }
    }
  }

  test("random DAG plus a planted back-edge: cycle detector fires") {
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val edges = randomDag(rng)
      val (a, b) = edges.head
      val cyclic = ((b, a) :: edges).toDF("src", "dst")
      assert(GraphOps.findCycleNodes(cyclic).count() > 0,
        s"planted cycle ($b,$a) in $edges not detected")
    }
  }

  test("driver-side topoOrder/detectCycles agree with the distributed topoDepth/findCycleNodes") {
    import org.apache.spark.sql.DataFrame
    import graft.graph.CycleException
    val rng = new scala.util.Random(29)
    /** Driver verdict and depths vs the distributed fixpoints, over the
      * node frame `nodes` (one column `key`). */
    def check(edges: DataFrame, nodes: DataFrame, what: String): Unit = {
      val distCyclic = GraphOps.findCycleNodes(edges).count() > 0
      val driverCyclic =
        try { GraphOps.detectCycles(edges); false }
        catch { case _: CycleException => true }
      assert(driverCyclic == distCyclic, s"cycle verdict differs on $what")
      if (!distCyclic) {
        val got = GraphOps.topoOrder(nodes, "key", edges)
          .select("key", "__ord").collect().map(r => r.get(0) -> r.getInt(1)).toMap
        val want = GraphOps.topoDepth(edges)
          .collect().map(r => r.get(0) -> r.getInt(1)).toMap
        assert(got == want, s"depths differ on $what")
      }
    }
    def strings(es: Seq[(String, String)], what: String): Unit =
      check(es.toDF("src", "dst"),
        es.flatMap(e => Seq(e._1, e._2)).distinct.toDF("key"), what)
    def longs(es: Seq[(String, String)], what: String): Unit = {
      val ls = es.map { case (a, b) => (a.tail.toLong, b.tail.toLong) }
      check(ls.toDF("src", "dst"),
        ls.flatMap(e => Seq(e._1, e._2)).distinct.toDF("key"), s"$what (Long ids)")
    }
    (1 to 3).foreach { i =>
      val dag = randomDag(rng)
      val (a, b) = dag.head
      val cases = Seq(
        s"DAG $i" -> dag,
        s"DAG $i + back-edge" -> ((b, a) :: dag),
        s"DAG $i + self-loop" -> ((a, a) :: dag),
        s"DAG $i + duplicate edges" -> (dag ++ dag.take(3)))
      cases.foreach { case (what, es) =>
        if (i % 2 == 1) strings(es, s"$what: $es") else longs(es, s"$what: $es")
      }
    }
  }

  test("rooted topoOrder agrees with bfsClosure and topoDepth over the closure's edges") {
    import org.apache.spark.sql.{DataFrame, Row}
    val rng = new scala.util.Random(31)
    /** Rooted driver pass vs the distributed references: the row set is
      * bfsClosure's, the depths are topoDepth's over the edges leaving
      * the closure (0 for a root without edges). `nodes` holds every
      * edge endpoint; the root is added to it. */
    def check(edges: DataFrame, nodes: DataFrame, root: Any, what: String): Unit = {
      val rootDf = spark.createDataFrame(
        java.util.Collections.singletonList(Row(root)), nodes.schema)
      val (tree, treeEdges) = closure(edges, rootDf)
      val depth = GraphOps.topoDepth(treeEdges)
        .collect().map(r => r.get(0) -> r.getInt(1)).toMap
      val want = tree.collect().map(r => r.get(0) -> depth.getOrElse(r.get(0), 0)).toMap
      val got = GraphOps.topoOrder(nodes.union(rootDf).distinct(), "key", edges, Some(root))
        .select("key", "__ord").collect().map(r => r.get(0) -> r.getInt(1)).toMap
      assert(got == want, s"rooted at $root on $what")
    }
    (1 to 2).foreach { i =>
      val dag = randomDag(rng)
      val srcs = dag.map(_._1).toSet
      val dsts = dag.map(_._2).toSet
      val roots = Seq(
        "leaf" -> (dsts -- srcs).min,
        "interior" -> (srcs & dsts).headOption.getOrElse(dag.head._1),
        "top" -> (srcs -- dsts).max,
        "absent" -> "n99")
      roots.foreach { case (kind, r) =>
        val what = s"DAG $i, $kind root: $dag"
        if (i % 2 == 1)
          check(dag.toDF("src", "dst"),
            dag.flatMap(e => Seq(e._1, e._2)).distinct.toDF("key"), r, what)
        else {
          val ls = dag.map { case (a, b) => (a.tail.toLong, b.tail.toLong) }
          check(ls.toDF("src", "dst"),
            ls.flatMap(e => Seq(e._1, e._2)).distinct.toDF("key"), r.tail.toLong,
            s"$what (Long ids)")
        }
      }
    }
  }

  test("rooted topoOrder: a cycle outside the closure passes; one inside raises detectCycles' witness") {
    import graft.graph.CycleException
    val rng = new scala.util.Random(37)
    (1 to 3).foreach { _ =>
      val dag = randomDag(rng)
      val (a, b) = dag.head
      val nodes = (dag.flatMap(e => Seq(e._1, e._2)) ++ Seq("x", "y")).distinct.toDF("key")
      // x <-> y reaches into a's tree, but nothing in the tree reaches x
      val outside = (("x", "y") :: ("y", "x") :: ("x", a) :: dag).toDF("src", "dst")
      intercept[CycleException] { GraphOps.detectCycles(outside) }
      val tree = GraphOps.bfsClosure(outside, Seq(a).toDF("node")).as[String].collect().toSet
      val got = GraphOps.topoOrder(nodes, "key", outside, Some(a))
        .select("key").as[String].collect().toSet
      assert(got == tree, s"cycle outside $a's tree in $dag")
      // b --> a closes a cycle inside a's tree
      val inside = ((b, a) :: dag).toDF("src", "dst")
      val treeEdges = closure(inside, Seq(a).toDF("node"))._2
      val want = intercept[CycleException] { GraphOps.detectCycles(treeEdges) }
      val e = intercept[CycleException] {
        GraphOps.topoOrder(nodes, "key", inside, Some(a))
      }
      assert(e.getMessage == want.getMessage, s"cycle ($b,$a) inside $a's tree in $dag")
    }
  }

  test("connectedComponents: chains collapse to min-id groups; singletons separate") {
    import org.apache.spark.sql.functions.col
    // components: {1,2,3,9} (chain), {5,6}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("a", "b")
    val comps = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 9L).forall(comps(_) == 1L))
    assert(comps(5L) == 5L && comps(6L) == 5L)
  }

  test("connectedComponentsStar equals a driver union-find over seeded random graphs") {
    /** Component minimum per node over the edges without a null
      * endpoint or a self-loop — the nodes connectedComponentsStar keeps. */
    def reference(es: Seq[(Any, Any)], ord: Ordering[Any]): Map[Any, Any] = {
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.filter { case (a, b) => a != null && b != null && a != b }.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    /** Random edges over `n` nodes, a shuffled path of 120 nodes above
      * them (diameter 119), duplicated and reversed copies of some
      * edges, self-loops, and edges with a null endpoint. */
    def graph(rng: scala.util.Random, n: Int): Seq[(Option[Long], Option[Long])] = {
      val random = Seq.fill(n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val path = rng.shuffle((n.toLong until n + 120L).toList)
      val base = random ++ path.zip(path.tail)
      val extra = rng.shuffle(base).take(20).flatMap(e => Seq(e, e.swap)) ++
        Seq.fill(5) { val x = rng.nextInt(n).toLong; (x, x) }
      (base ++ extra).map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some(rng.nextInt(n).toLong), None), (None, Some(n + 200L)), (None, None))
    }
    val conf = spark.conf
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = Seq(coalesceKey, "spark.sql.shuffle.partitions").map(k => k -> conf.get(k))
    val rng = new scala.util.Random(53)
    try {
      for (coalesce <- Seq(true, false); parts <- Seq(1, 4, 16); strings <- Seq(false, true)) {
        conf.set(coalesceKey, coalesce.toString)
        conf.set("spark.sql.shuffle.partitions", parts.toString)
        val es = graph(rng, 40 + rng.nextInt(60))
        val (rows, ord, df) =
          if (strings) {
            val ss = es.map { case (a, b) => (a.map(x => s"n$x").orNull, b.map(x => s"n$x").orNull) }
            (ss, Ordering.String.on[Any](_.asInstanceOf[String]), ss.toDF("src", "dst"))
          } else
            (es.map { case (a, b) => (a.getOrElse(null), b.getOrElse(null)) },
              Ordering.Long.on[Any](_.asInstanceOf[Long]), es.toDF("src", "dst"))
        val got = GraphOps.connectedComponentsStar(df.repartition(parts))
          .collect().map(r => r.get(0) -> r.get(1)).toMap
        assert(got == reference(rows, ord),
          s"coalescing $coalesce, $parts partitions, ${if (strings) "String" else "Long"} ids: $es")
      }
      assert(GraphOps.connectedComponentsStar(Seq.empty[(Long, Long)].toDF("src", "dst"))
        .collect().isEmpty, "the empty edge set has no components")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("pageRank: dangling mass leaks by default, is conserved with redistribution, and the flag is a no-op without dangling nodes") {
    import org.apache.spark.sql.functions.{col, sum}
    // node 4 has no out-edge: it receives rank but contributes nothing
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val leaky = GraphOps.pageRank(edges, iters = 5)
      .agg(sum("pr")).as[Double].head()
    assert(leaky < 0.9, s"default variant should lose dangling mass, total $leaky")
    val conserved = GraphOps.pageRank(edges, iters = 5,
        redistributeDangling = true)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(conserved - 1.0) < 1e-4,
      s"redistribution should conserve total rank, got $conserved")
    // on a graph with full out-degree coverage the dangling term is an
    // exact 0.0 — the flag must not change a single rank
    val sym = edges.union(edges.select(col("dst"), col("src")))
    val base = GraphOps.pageRank(sym, iters = 3)
      .as[(Long, Double)].collect().toSet
    val flagged = GraphOps.pageRank(sym, iters = 3, redistributeDangling = true)
      .as[(Long, Double)].collect().toSet
    assert(base == flagged)
  }

  test("labelPropagation: cliques converge to their min label; out-edge-free nodes keep theirs") {
    val clique = (base: Long) => for {
      a <- base until base + 3; b <- base until base + 3 if a != b
    } yield (a, b) // both directions
    val edges = (clique(1L) ++ clique(10L) :+ ((21L, 20L))).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L),
      s"clique 1-3 must converge to label 1, got $got")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L, "no out-edges: label kept")
    assert(got(21L) == 20L, "sole neighbor's label adopted")
  }

  test("triangleCounts: K4 gives 3 per node, a chordless square gives none; direction/duplication-insensitive") {
    import org.apache.spark.sql.functions.col
    // K4 on 1..4 (each node in C(3,2)=3 triangles) + square 10-11-12-13
    // with no diagonal (no triangles) — edges fed with mixed direction
    // and a duplicate
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val square = Seq((10L, 11L), (12L, 11L), (12L, 13L), (13L, 10L), (10L, 13L))
    val got = GraphOps.triangleCounts((k4 ++ square).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"square nodes must report no triangles, got $got")
  }

  test("triangleCounts equals the brute-force triple count on a random graph") {
    val rng = new scala.util.Random(43)
    val edges = Seq.fill(120)((1L + rng.nextInt(15), 1L + rng.nextInt(15)))
      .filter(e => e._1 != e._2).distinct
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = (for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if canon((x, y)) && canon((y, z)) && canon((x, z))
    } yield Seq(x, y, z)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.triangleCounts(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"got $got, want $want")
  }

  test("random DAG alone: cycle detector stays silent") {
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val edges = randomDag(rng)
      assert(GraphOps.findCycleNodes(edges.toDF("src", "dst")).count() == 0,
        s"false cycle in DAG $edges")
    }
  }
}
