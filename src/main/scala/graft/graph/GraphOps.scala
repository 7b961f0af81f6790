package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Graph algorithms over edge DataFrames — the Spark-first
  * re-expression of the reference's in-memory Python graph stage
  * (`concepts/src/concept_csv_export.py:407-530`): BFS descendant
  * closure (G1), cycle detection (G2), topological reordering (O4),
  * plus the ranking, community and dedup-grouping graph operators.
  *
  * Design (SURVEY §2.6): edges live in a `DataFrame(src, dst)`. Two
  * execution shapes:
  *  - Driver-side: every DAG question — [[topoDepth]] (O4),
  *    [[bfsClosure]] (G1), [[findCycleNodes]] and [[detectCycles]] (G2)
  *    and [[topoOrder]] — is answered by one sink peel over one collect
  *    of the edge frame (see [[peelSinks]]); one rooted [[topoOrder]] is
  *    the concepts export's whole graph stage (G1 closure, G2 guard, O4
  *    depth). Driver memory is bounded by the edge count, and a
  *    concepts export's edges are bounded by the dictionary's set and
  *    answer links (tens of thousands per dictionary) — the reference
  *    holds the same graph in a Python dict, and the single-file CSV
  *    sink already passes every exported row through one task.
  *  - Distributed: everything else is a driver-orchestrated iterative
  *    DataFrame fixpoint. Each iteration `localCheckpoint()`s to cut
  *    lineage (SURVEY §7.4.4) — without it the plan doubles per
  *    iteration and Catalyst analysis time explodes. At cluster scale
  *    the per-iteration shuffle is hash-partitioned on the join key.
  *    [[connectedComponentsStar]], the one connected-components
  *    algorithm, first contracts every partition with a union-find
  *    (Łącki et al., arXiv:1807.10727) and stops at the first
  *    min-rooted star forest: an edge set small enough for AQE to
  *    coalesce into one partition is finished by that single pass, and
  *    only edges that span partitions pay star rounds.
  *
  * No GraphX/GraphFrames dependency.
  */
object GraphOps {

  private def checkpointed(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  // r16 experiment, REJECTED by measurement: folding the eager
  // materialization into the convergence count via a LAZY
  // localCheckpoint (one job/iteration instead of two) read 0.1 s/iter
  // faster in an isolated A/B probe but regressed the real fixpoint
  // queries 2–3.6× (q20 2.79 → 10.04 s, q21 2.04× normalized): under
  // AQE the lazy checkpoint's blocks do not reliably persist when the
  // materializing action runs through shuffle-stage jobs, so every
  // subsequent iteration recomputed the full lineage — O(iters²) work.
  // The A/B probe freed the frame immediately and never re-read it,
  // which is why it missed this. EAGER localCheckpoint is load-bearing.
  //
  // r17 experiment, REJECTED by measurement: scoping AQE OFF to the
  // iteration loops (the r16 verdict's hypothesis for the ~0.4 s/iter
  // constant). A single-iteration probe read 0.45 → 0.27 s/iter in
  // favor of AQE-off — but the real fixpoint queries regressed 1.2–7×
  // (isolated A/B at sf0.1: q410_hits 5.9 → 30.4 s, q432_cc_star
  // 3.7 → 26.8 s, q417 4.4×, q436 4.1×): without AQE's partition
  // coalescing every tiny node-sized shuffle stage runs at the full
  // session parallelism (32 tasks/stage × several stages × 2 jobs ×
  // O(rounds)), and task-launch overhead swamps the saved stage
  // barriers. A second variant — AQE ON with
  // coalescePartitions.parallelismFirst=false (coalesce to advisory
  // size ⇒ 1-partition stages) — was also net worse (q260_hyperanf
  // 2.2× — its per-round HLL register aggregation has REAL parallel
  // work that a 1-task stage serializes; q410/q417 1.1–1.2×, q436
  // 0.9×). Conclusion: the per-iteration constant is the 2-jobs ×
  // job-submission product, not AQE re-planning; AQE's default
  // coalescing (parallelismFirst=true) is load-bearing for the tiny
  // frames AND full parallelism is load-bearing for compute-heavy
  // rounds — the default is the right trade on both ends, and at
  // cluster scale per-round WORK dominates these driver-side
  // constants anyway. Leave the loops under default AQE.

  /** Deterministically release a SUPERSEDED fixpoint iteration's
    * checkpoint blocks (via [[org.apache.spark.sql.GraftPlanBridge
    * .freeLocalCheckpoint]]). Without this, dead iterations pin
    * BlockManager storage until a full GC fires the ContextCleaner's
    * weak references — measured round 10: one 4 s pagerank left
    * enough pinned debt to tax the next five bench queries 2–8 s
    * each until the next scheduled `System.gc()`. Only ever called on
    * frames that are provably dead: the successor was EAGERLY
    * checkpointed (lineage cut, blocks materialized) before the free,
    * so nothing can recompute through the freed frame. At cluster
    * scale this is the difference between a k-iteration fixpoint
    * holding 1 frame of executor storage and holding k. */
  private def free(df: DataFrame): Unit =
    org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(df)

  /** Co-occurrence edge extraction from (basket, item) rows: all
    * unordered item pairs `(a < b)` sharing a basket — the q92/q238/
    * q324/q342/q417 graph-construction stage — with a FAIL-FAST hot-
    * basket guard (the `lshCandidatePairs` `maxBucket` discipline).
    *
    * Shape: ONE groupBy shuffle collects each basket's (distinct,
    * caller-guaranteed) items into a sorted in-row array, pairs are
    * generated by a codegen'd nested `transform` over that array, and
    * the guard rides the same pass as a `raise_error` branch — no
    * second scan, no self-join (the previous formulation shuffled the
    * basket frame through a join and generated k² rows to keep k²/2).
    *
    * Pair volume is inherently Σk², fine while baskets are bounded
    * (TPC-H orders top out at 7 items) — but ONE hot basket at 100×
    * scale is a quadratic skew bomb, so `maxBasket` turns the implicit
    * contract into an error naming the offending basket instead of a
    * mystery straggler task. Callers with legitimately hot baskets
    * should sample or salt upstream.
    */
  def basketPairs(items: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 10000): DataFrame = {
    val guarded = when(size(col("__it")) > maxBasket,
      raise_error(concat(
        lit("graft basketPairs: basket "), col(basketCol).cast("string"),
        lit(" has "), size(col("__it")).cast("string"),
        lit(s" items, above the $maxBasket-item cap — a single hot " +
          "basket makes pair volume quadratic; sample or salt it " +
          "upstream, or raise maxBasket deliberately")))
        .cast("array<long>"))
      .otherwise(col("__it"))
    items
      .groupBy(col(basketCol))
      .agg(sort_array(collect_list(col(itemCol).cast("long"))).as("__it"))
      .select(guarded.as("__it")) // consumed by the explode — unprunable
      .select(explode(expr(
        "flatten(transform(__it, (x, i) -> " +
          "transform(slice(__it, i + 2, size(__it) - i - 1), y -> " +
          "struct(x AS a, y AS b))))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      // duplicate items WITHIN a basket pair positionally (x at i vs
      // the equal x at i+1), which the a<b join formulation this
      // replaces structurally excluded — keep the strict inequality
      // so a non-distinct caller gets cross-pairs only, never a
      // self-loop edge into triangle/truss counting
      .filter(col("a") < col("b"))
  }

  /** The driver-side sink peel behind every DAG question here
    * ([[topoDepth]], [[bfsClosure]], [[findCycleNodes]], [[detectCycles]]
    * and [[topoOrder]]): `nodes(i)` is a node id (typed `nodeType`), `src`
    * and `dst` hold each edge as a pair of node indices, and `level(i)`
    * is node i's peel level — its longest-path depth — or -1 if it was
    * never peeled. */
  private final class SinkPeel(val nodeType: DataType, val nodes: Array[Any],
      val src: Array[Int], val dst: Array[Int], val level: Array[Int])

  /** The type a node union of `(src, dst)` resolves to — analysis only,
    * no job. */
  private def nodeTypeOf(e: DataFrame): DataType =
    e.select(col("src")).union(e.select(col("dst"))).schema.head.dataType

  /** Collect `(src, dst)` once (one Spark job) and peel sinks level by
    * level (Kahn over out-degrees): level 0 is every node without an
    * out-edge, level k every node whose last live out-edge pointed at
    * level k-1, so a node's level is its longest-path depth. The
    * never-peeled nodes are exactly the nodes that can reach a cycle.
    * Edges with a null endpoint are dropped: a null is no node. Node ids
    * must compare by value (strings, numbers). `roots` keep only the
    * edges leaving their closure (a BFS over the same collect), so the
    * peel's nodes are that closure; a root is a node even without
    * edges. Every edge is collected, so the driver holds the whole edge
    * set: a dictionary's set and answer links for the concepts export,
    * about 150k edges for the q20–q22 hierarchy at sf1. */
  private def peelSinks(edges: DataFrame, roots: Option[Iterable[Any]] = None): SinkPeel = {
    val e = edges.toDF("src", "dst")
    val nodeType = nodeTypeOf(e)
    val all = e.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast(nodeType), col("dst").cast(nodeType))
      .collect()
    val rows = roots.fold(all) { rs =>
      val out = all.groupBy(_.get(0))
      val seen = scala.collection.mutable.HashSet.from(rs)
      var frontier = seen.toSeq
      while (frontier.nonEmpty) frontier = frontier
        .flatMap(out.getOrElse(_, Array.empty[Row]).map(_.get(1))).filter(seen.add)
      all.filter(row => seen(row.get(0)))
    }
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idOf(v: Any): Int = index.getOrElseUpdate(v, { nodes += v; nodes.length - 1 })
    roots.foreach(_.foreach(idOf))
    val src = rows.map(r => idOf(r.get(0)))
    val dst = rows.map(r => idOf(r.get(1)))
    val n = nodes.length
    val outDeg = new Array[Int](n)
    src.foreach(outDeg(_) += 1)
    val preds = Array.fill(n)(List.empty[Int])
    for (k <- src.indices) preds(dst(k)) ::= src(k)
    val level = Array.fill(n)(-1)
    var frontier = (0 until n).filter(outDeg(_) == 0).toArray
    var depth = 0
    while (frontier.nonEmpty) {
      frontier.foreach(level(_) = depth)
      val next = scala.collection.mutable.ArrayBuilder.make[Int]
      for (d <- frontier; s <- preds(d)) {
        outDeg(s) -= 1
        if (outDeg(s) == 0) next += s
      }
      frontier = next.result()
      depth += 1
    }
    new SinkPeel(nodeType, nodes.toArray, src, dst, level)
  }

  /** The peel as a local `(node, depth)` frame, depth -1 for the nodes
    * never peeled — no job to build, broadcast as is when joined. */
  private def depthFrame(spark: SparkSession, p: SinkPeel): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      p.nodes.indices.map(i => Row(p.nodes(i), p.level(i))).asJava,
      StructType(Seq(StructField("node", p.nodeType, nullable = false),
        StructField("depth", IntegerType, nullable = false))))
  }

  /** Cyclic node count above which the cycle message omits the witness. */
  private val WitnessLimit = 100000

  /** Raise the V2 `CycleException` if the peel left nodes behind. The
    * witness walks the never-peeled subgraph (every node in it has an
    * out-edge inside it) from its smallest node, always to the smallest
    * neighbour, until a node repeats; the repeat closes the cycle. */
  private def failOnCycle(p: SinkPeel, witnessLimit: Int): Unit = {
    val cyclic = p.level.indices.filter(p.level(_) < 0)
    if (cyclic.isEmpty) return
    if (cyclic.length > witnessLimit)
      throw new CycleException(
        s"graph contains cycles over ${cyclic.length} nodes (witness suppressed)")
    val adj = p.src.indices
      .filter(k => p.level(p.src(k)) < 0 && p.level(p.dst(k)) < 0)
      .groupBy(p.src(_)).map { case (s, ks) => s -> ks.map(p.dst(_)) }
    def smallest(ids: Iterable[Int]): Int = ids.minBy(p.nodes(_).toString)
    val path = scala.collection.mutable.ArrayBuffer(smallest(cyclic))
    val seen = scala.collection.mutable.HashSet(path.head)
    var nxt = smallest(adj(path.head))
    while (!seen(nxt)) {
      path += nxt; seen += nxt
      nxt = smallest(adj(nxt))
    }
    val witness = (path.drop(path.indexOf(nxt)) :+ nxt)
      .map(p.nodes(_)).mkString(" --> ")
    throw new CycleException(s"Cycle detected: $witness")
  }

  /** Cycle guard with a human-readable witness (V2): raises
    * `CycleException` whose message contains an `a --> b --> a` path,
    * mirroring the reference's error contract
    * (`concept_csv_export.py:490-496`). Runs on the driver over one
    * collect of the edges (see [[peelSinks]]); [[findCycleNodes]] lists
    * the nodes behind the same verdict. */
  def detectCycles(edges: DataFrame, witnessLimit: Int = WitnessLimit): Unit =
    failOnCycle(peelSinks(edges), witnessLimit)

  /** Longest-path depth layering ("topological rank", O4): given edges
    * `(src, dst)` meaning "src references dst" (dst must come first —
    * reference semantics `concept_csv_export.py:499-530`), returns
    * `(node, depth)` for every edge endpoint, where depth = 0 for a node
    * without out-edges and 1 + max(depth of its referents) otherwise.
    * A view over one [[peelSinks]]; cyclic edges raise [[detectCycles]]'
    * `CycleException`. */
  def topoDepth(edges: DataFrame): DataFrame = {
    val p = peelSinks(edges)
    failOnCycle(p, WitnessLimit)
    depthFrame(edges.sparkSession, p)
  }

  /** BFS reachability closure (G1, `concept_csv_export.py:407-438`):
    * `(node)` for every node reachable from the one-column frame `roots`
    * following `src -> dst` edges, roots included. A view over a rooted
    * [[peelSinks]] (the roots are collected); a cycle in the closure
    * does not raise. */
  def bfsClosure(edges: DataFrame, roots: DataFrame): DataFrame = {
    val rootType = nodeTypeOf(edges.toDF("src", "dst"))
    val rs = roots.toDF("node").select(col("node").cast(rootType)).collect()
      .flatMap(r => Option(r.get(0)))
    depthFrame(edges.sparkSession, peelSinks(edges, Some(rs))).select("node")
  }

  /** Cycle reachability set (G2 core, `concept_csv_export.py:457-496`):
    * `(node)` for every node that can reach a cycle — the nodes
    * [[peelSinks]] never peels, a superset of cycle members. Empty ⇔
    * acyclic. */
  def findCycleNodes(edges: DataFrame): DataFrame =
    depthFrame(edges.sparkSession, peelSinks(edges))
      .filter(col("depth") < 0).select("node")

  /** Connected components by local contraction followed by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Min-label
    * propagation would need O(diameter) rounds, which on path-shaped
    * similarity chains (dedup graphs routinely contain them) means
    * thousands of shuffles; star contraction converges in O(log² n)
    * rounds REGARDLESS of diameter, each round two groupBy-shuffles on
    * node id:
    *
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(N(u) ∪ u) — long tails fold onto their local minimum;
    *   - small-star(u): edges oriented child>parent, every parent
    *     (plus u) re-attaches to the minimum parent — stars flatten.
    *
    * Before the first round every partition contracts its own edges
    * (Łącki, Mirrokni and Włodarczyk, "Connected Components at Scale
    * via Local Contractions", arXiv:1807.10727): the canonical edges
    * are hashed on their lower endpoint, and a union-find per partition
    * replaces them with one `(localMin, node)` edge per non-root node
    * (see [[contractLocally]]) — the same components in at most as many
    * edges. AQE coalesces a small edge set into one partition, whose
    * pass alone finishes the job; a large one keeps its partitions and
    * the rounds merge what the partitions could not.
    *
    * Fixpoint: a min-rooted star forest (see [[isStarForest]]), tested
    * by one aggregate after a multi-partition contraction and after
    * every round — the rounds leave such a forest unchanged, so no
    * round is spent confirming it. A one-partition contraction is such
    * a forest by construction and skips the test. Returns
    * `(node, comp)` with comp = the component's minimum node id, for
    * the nodes that appear in `edges` only; callers union isolated nodes themselves. Self-loops and
    * edges with a null endpoint are dropped; the input need not be
    * symmetrized. */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val e0 = edges.toDF("u", "v").filter(col("u") =!= col("v"))
    // canonical undirected form (min, max), hashed on the lower endpoint
    var e = checkpointed(contractLocally(
      e0.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .repartition(col("u"))))
    // a single partition's contraction is the fixpoint by construction
    var done = e.rdd.getNumPartitions == 1 || isStarForest(e)
    var round = 0
    while (!done) {
      if (round == maxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar did not converge in $maxRounds rounds")
      // large-star: group the SYMMETRIZED adjacency by u; neighbors
      // larger than u re-attach to min(N(u) ∪ u)
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val large = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"),
          collect_list(when(col("v") > col("u"), col("v"))).as("bigs"))
        .select(explode(col("bigs")).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
      val afterLarge = checkpointed(large)
      free(e)
      // small-star: orient child = max endpoint; child and all its
      // parents re-attach to the minimum parent
      val small = afterLarge
        .select(col("v").as("child"), col("u").as("parent"))
        .groupBy("child")
        .agg(min(col("parent")).as("m"),
          collect_list(col("parent")).as("parents"))
        .select(col("m"),
          explode(array_union(col("parents"), array(col("child")))).as("n"))
        .filter(col("n") =!= col("m"))
        .select(col("m").as("u"), col("n").as("v"))
        .distinct()
      e = checkpointed(small)
      free(afterLarge)
      done = isStarForest(e)
      round += 1
    }
    // at the fixpoint the edge set is a star forest: (root, child)
    e.select(col("v").as("node"), col("u").as("comp"))
      .union(e.select(col("u").as("node"), col("u").as("comp")))
      .distinct()
  }

  /** Union-find over each partition's canonical `(u < v)` edges: emits
    * one `(root, node)` edge per node that is not its set's root. The
    * root is always the set's minimum — unions hang the larger root
    * under the smaller, by Spark's own ordering of the node type — so
    * every output edge is canonical, and the output spans the input's
    * components with at most as many edges (each edge merges at most
    * two sets). A partition's output alone is a min-rooted star forest;
    * only nodes shared across partitions leave work for the rounds. */
  private def contractLocally(canon: DataFrame): DataFrame = {
    val nodeType = canon.schema.head.dataType
    canon.mapPartitions { rows =>
      val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(nodeType)
      val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(nodeType)
      val index = scala.collection.mutable.HashMap.empty[Any, Int]
      val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
      def idOf(v: Any): Int = index.getOrElseUpdate(v, { nodes += v; nodes.length - 1 })
      val ends = rows.flatMap(r => Iterator(idOf(r.get(0)), idOf(r.get(1)))).toArray
      val keys = nodes.map(toInternal)
      val parent = Array.range(0, nodes.length)
      def find(i: Int): Int = {
        var root = i
        while (parent(root) != root) root = parent(root)
        var j = i
        while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
        root
      }
      for (k <- ends.indices by 2) {
        val (a, b) = (find(ends(k)), find(ends(k + 1)))
        if (a != b) { if (ord.lt(keys(a), keys(b))) parent(b) = a else parent(a) = b }
      }
      nodes.indices.iterator.filter(i => find(i) != i)
        .map(i => Row(nodes(find(i)), nodes(i)))
    }(org.apache.spark.sql.Encoders.row(canon.schema))
  }

  /** The star rounds' fixpoint test, one aggregate: with canonical
    * `(u < v)` edges, every `v` in exactly one edge and no `v` also a
    * `u` means each `v` hangs off a root that is smaller than all its
    * leaves and touches nothing else — a min-rooted star forest, which
    * large-star and small-star both map to itself. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("v").as("n"), lit(1).as("asV"), lit(false).as("asU"))
      .union(e.select(col("u").as("n"), lit(0).as("asV"), lit(true).as("asU")))
      .groupBy("n")
      .agg(sum(col("asV")).as("nv"), max(col("asU")).as("isU"))
      .filter(col("nv") > 1 || (col("nv") === 1 && col("isU")))
      .isEmpty

  /** Fixed-iteration PageRank over a DIRECTED edge set — the classic
    * link-quality signal of web-corpus curation (host/URL ranking as a
    * keep/drop feature). `pr' = (1-d)/N + d·Σ_in pr/outdeg`, iterated a
    * fixed `iters` times from the uniform vector; ranks are ROUNDED to
    * 6 decimals after every iteration (the q53-centroid trick:
    * the per-node contribution sum is the one unordered float
    * reduction, and rounding re-pins it each step, which is what lets a
    * fixed-iteration run unroll into an exact SQL oracle). Dangling
    * mass is NOT redistributed by default — feed a graph where every
    * node has an out-edge (symmetrize if needed), or pass
    * `redistributeDangling = true` for the standard correction: the
    * rank held by out-edge-free nodes is returned to every node
    * uniformly each step (`+ d·m_dangling/N`), keeping total mass at 1.
    *
    * Scale shape: out-degree is static, so it is folded into the edge
    * set ONCE up front (each edge row carries its source's degree —
    * r4 re-derived it from the edge cache every iteration, an extra
    * groupBy+join per step). Each iteration is then one
    * (edges ⋈ ranks) hash join + a map-side-combined per-dst sum + a
    * left join back to the node set, checkpointed per step like every
    * fixpoint here. The dangling correction, when on, adds a 1-row
    * aggregate broadcast back per step. N is the one driver-side
    * scalar (a count — what any PageRank reduce collects).
    */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85,
      redistributeDangling: Boolean = false,
      assumeDistinct: Boolean = false): DataFrame = {
    // `assumeDistinct` skips the edge dedup shuffle — pass it when the
    // edge set is distinct by construction (e.g. a symmetrized union of
    // a distinct pair set); duplicate edges would double-count
    // contributions, so only assert what the construction guarantees
    val e0 = edges.toDF("src", "dst")
    val e = (if (assumeDistinct) e0 else e0.distinct()).cache()
    val nodes = checkpointed(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // static per-edge degree: (src, dst, __od) materialized once,
    // HASH-PARTITIONED ON src — the iteration join's key — so each
    // round shuffles only the node-sized rank frame to meet it, never
    // the edge set (localCheckpoint preserves the partitioning).
    // NB: the per-iteration sum stays `pr / __od` (integer divisor) —
    // NOT a precomputed 1/od weight — so every division is the exact
    // operation the SQL oracle performs (a premultiplied reciprocal
    // differs by ulps, which 6-dp re-pinning need not absorb at a
    // rounding boundary).
    val ew = checkpointed(
      e.join(e.groupBy("src").agg(count(lit(1)).as("__od")), "src")
        .repartition(col("src")))
    val srcNodes =
      if (redistributeDangling)
        checkpointed(e.select(col("src").as("node")).distinct())
      else null
    e.unpersist()
    val n = nodes.count()
    val round6 = (c: Column) =>
      graft.functions.MysqlFunctions.oracleRound(c, 6)
    var pr = checkpointed(nodes.withColumn("pr", round6(lit(1.0) / n)))
    for (_ <- 0 until iters) {
      val contrib = ew.join(pr, ew("src") === pr("node"))
        .groupBy(col("dst").as("__node"))
        .agg(sum(col("pr") / col("__od")).as("__m"))
      val joined = nodes.join(contrib, nodes("node") === col("__node"), "left")
      val next =
        if (redistributeDangling) {
          // mass parked on out-edge-free nodes this step: one anti-join
          // + 1-row aggregate, broadcast onto every node row
          val dangling = pr.join(srcNodes, Seq("node"), "left_anti")
            .agg(coalesce(sum("pr"), lit(0.0)).as("__dm"))
          joined.crossJoin(broadcast(dangling))
            .select(col("node"),
              round6(lit((1.0 - damping) / n) + lit(damping) *
                (coalesce(col("__m"), lit(0.0)) + col("__dm") / n)).as("pr"))
        } else
          joined.select(col("node"),
            round6(lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("__m"), lit(0.0))).as("pr"))
      val prev = pr
      pr = checkpointed(next)
      free(prev)
    }
    // pr's lineage is cut by its own checkpoint, so the edge-sized
    // degree frame (the big block set of this whole query) and the
    // node frames are dead the moment the loop exits — release them
    // here instead of pinning edge-scale storage until the next GC
    free(nodes); free(ew)
    if (srcNodes != null) free(srcNodes)
    pr
  }

  /** PERSONALIZED PageRank (random walk with restart): like
    * [[pageRank]] but all restart mass returns to a SEED set — the
    * relevance-to-these-nodes ranking of seed-expansion curation
    * (grow a trusted-domain set, find documents "near" a labeled
    * cluster). Per round: pr(v) ← round6(teleport(v) + d·Σ incoming),
    * with teleport(v) = `restart`/|seeds| on seeds and 0 elsewhere;
    * init = the teleport distribution itself (pr₀ = 1/|seeds| on
    * seeds). `restart` is taken as an explicit literal — NOT derived
    * as 1−damping — so the oracle can use the same decimal literal
    * (1−0.85 in binary doubles is not the double 0.15; the 6-dp
    * re-pin would usually absorb that, but not at a rounding
    * boundary). Same shuffle shape, checkpoint discipline, and
    * rounding contract as [[pageRank]]; unlike it, mass NOT reachable
    * from the seeds stays exactly 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85, restart: Double = 0.15,
      assumeDistinct: Boolean = false): DataFrame = {
    val round6 = (c: Column) =>
      graft.functions.MysqlFunctions.oracleRound(c, 6)
    val e0 = edges.toDF("src", "dst")
    val e = (if (assumeDistinct) e0 else e0.distinct()).cache()
    val nodes = checkpointed(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val ew = checkpointed(
      e.join(e.groupBy("src").agg(count(lit(1)).as("__od")), "src")
        .repartition(col("src")))
    e.unpersist()
    val sd = seeds.toDF("node").distinct()
    val nS = sd.count()
    require(nS > 0, "personalizedPageRank needs a non-empty seed set")
    val seeded = checkpointed(
      nodes.join(sd.withColumn("__s", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(false)).as("__seed")))
    var pr = checkpointed(seeded
      .select(col("node"),
        round6(when(col("__seed"), lit(1.0) / nS).otherwise(lit(0.0)))
          .as("pr")))
    for (_ <- 0 until iters) {
      val contrib = ew.join(pr, ew("src") === pr("node"))
        .groupBy(col("dst").as("__node"))
        .agg(sum(col("pr") / col("__od")).as("__m"))
      val prev = pr
      pr = checkpointed(
        seeded.join(contrib, seeded("node") === col("__node"), "left")
          .select(seeded("node"),
            round6(when(col("__seed"), lit(restart) / nS)
              .otherwise(lit(0.0)) +
              lit(damping) * coalesce(col("__m"), lit(0.0))).as("pr")))
      free(prev)
    }
    free(nodes); free(ew); free(seeded)
    pr
  }

  /** Synchronous label propagation (fixed iterations) — the cheap
    * community-detection signal of graph-based corpus curation
    * (mirror/spam clusters, host communities; Raghavan et al. 2007,
    * public arXiv 0709.2938). Every node starts labeled with itself;
    * each round it adopts the most frequent label among its
    * OUT-neighbors, ties broken by smallest label — all-integer
    * arithmetic, so unlike PageRank the unrolled SQL oracle needs no
    * rounding re-pin at all. Synchronous update with a fixed `iters`
    * (the deterministic variant — asynchronous/random-order LPA is not
    * reproducible); a node with no out-edges keeps its label. Feed a
    * symmetrized edge set for undirected semantics.
    *
    * Scale shape per iteration: one (edges ⋈ labels) hash join, a
    * map-side-combined (node, label) count, one per-node top-1 window,
    * and a node-sized left join back — checkpointed per step like
    * every fixpoint here. */
  def labelPropagation(edges: DataFrame, iters: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges.toDF("src", "dst")
    val e = (if (assumeDistinct) e0 else e0.distinct()).cache()
    val nodes = checkpointed(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    var labels = checkpointed(nodes.withColumn("label", col("node")))
    for (_ <- 0 until iters) {
      val counts = e.join(labels, e("dst") === labels("node"))
        .groupBy(e("src").as("n"), col("label"))
        .agg(count(lit(1)).as("c"))
      val top = counts
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("n")
            .orderBy(col("c").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("n"), col("label").as("__new"))
      val prev = labels
      labels = checkpointed(
        labels.join(top, labels("node") === col("n"), "left")
          .select(col("node"),
            coalesce(col("__new"), col("label")).as("label")))
      free(prev)
    }
    e.unpersist()
    free(nodes)
    labels
  }

  /** Per-node triangle counts over an UNDIRECTED edge set — the local
    * clustering signal (dense co-occurrence neighborhoods vs link
    * farms) of web-graph curation. Uses the degree-ordered wedge
    * algorithm (the MapReduce-standard formulation, Suri & Vassilvitskii
    * WWW'11): orient every edge from its lower-(degree, id) endpoint to
    * the higher one, build wedges only at each node's oriented
    * out-neighbors — Σ_v C(outdeg⁺(v), 2), where outdeg⁺ is bounded by
    * O(√|E|) on any graph, vs the unordered Σ C(deg, 2) that explodes
    * on hubs — and close each wedge with one hash semi-join against the
    * canonical edge set. Every triangle is found exactly once (at its
    * lowest-ordered vertex), then credited to all three corners.
    * Returns (node, n_triangles), nodes with ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e0 = edges.toDF("a", "b").filter(col("a") =!= col("b"))
    // canonical undirected set (a < b), and full degrees off it
    val canon = checkpointed(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    triangleTriples(canon)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** All triangles of a CANONICAL (a < b, distinct) undirected edge
    * set, each exactly once, as `(u, v1, v2)` triples — the
    * degree-ordered wedge enumeration [[triangleCounts]] documents
    * (u is the triangle's lowest-(deg, id) corner; v1 < v2). */
  private def triangleTriples(canon: DataFrame): DataFrame =
    triangleTriplesWithHandle(canon)._1

  /** [[triangleTriples]] plus the round's `orient` checkpoint handle,
    * for loop callers ([[kTrussPeel]]) that can [[free]] it once the
    * consuming round is materialized — per-round orient frames
    * otherwise pin edge-sized storage until GC (the round-10 lesson;
    * r16). One-shot callers use [[triangleTriples]] and let the
    * ContextCleaner reap the single frame. */
  private def triangleTriplesWithHandle(
      canon: DataFrame): (DataFrame, DataFrame) = {
    val und = canon.union(canon.select(col("b"), col("a")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    val orient = checkpointed(und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .filter(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v")))
    val wedges = orient.select(col("u"), col("v").as("v1"))
      .join(orient.select(col("u"), col("v").as("v2")), Seq("u"))
      .filter(col("v1") < col("v2"))
    // v1 < v2 already, so (v1, v2) IS the canonical form — plain
    // equi-join keys, no least/greatest re-derivation
    (wedges.join(canon,
      col("v1") === col("a") && col("v2") === col("b"), "left_semi"),
      orient)
  }

  /** k-TRUSS peel (Cohen 2008): repeatedly drop edges supported by
    * fewer than k−2 triangles — the EDGE-grain densification beside
    * the node-grain [[kCorePeel]] (every k-truss edge is in a
    * (k−1)-core, but not vice versa; trusses isolate the
    * triangle-reinforced community scaffold web-graph curation keeps).
    * A fixed `iters` is the engine's fixpoint convention (q73/q93):
    * the result is "the graph after N peels" — deterministic and
    * all-integer, so the peel unrolls into chained oracle CTEs;
    * convergence is spec-checked. Returns the surviving canonical
    * edges with their POST-peel support (coalesced 0 — a reported
    * support below k−2 means exactly "one more peel would drop it").
    *
    * Scale shape per round: one degree-ordered triangle enumeration
    * (out-wedge fanout bounded by O(√|E|)) + an explode-to-3 edge
    * credit + one keyed count — all hash-partitioned on the edge key;
    * rounds are checkpointed and superseded frames freed. */
  def kTrussPeel(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    val e0 = edges.toDF("a", "b").filter(col("a") =!= col("b"))
    var canon = checkpointed(
      e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    def support(c: DataFrame): (DataFrame, DataFrame) = {
      val (tri, orient) = triangleTriplesWithHandle(c)
      (tri
        .select(explode(array(
          struct(col("u").as("x"), col("v1").as("y")),
          struct(col("u").as("x"), col("v2").as("y")),
          struct(col("v1").as("x"), col("v2").as("y")))).as("e"))
        .select(least(col("e.x"), col("e.y")).as("a"),
          greatest(col("e.x"), col("e.y")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup")), orient)
    }
    for (_ <- 0 until iters) {
      val prev = canon
      val (sup, orient) = support(canon)
      canon = checkpointed(
        canon.join(sup.filter(col("sup") >= k - 2),
          Seq("a", "b"), "left_semi"))
      // the round's orient checkpoint is dead once canon materialized
      free(orient)
      free(prev)
    }
    canon.join(support(canon)._1, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Topological reorder (O4, `concept_csv_export.py:499-530`): order
    * rows so that every referenced node precedes its referrers, stable
    * by `tieBreak` within a depth layer. Returns the input plus an
    * `__ord` rank column (the node's [[topoDepth]], 0 for keys outside
    * the edge set); callers sort by it. Matches the reference's
    * contract (referrer strictly after all referents —
    * `test_concept_csv_export.py:33-51`). Depths come from one driver-
    * side peel (see [[peelSinks]]) and join onto `df` as a broadcast
    * local frame; cyclic edges raise [[detectCycles]]' `CycleException`.
    * With a `root` (G1 tree filter) only the root's closure (the rows
    * [[bfsClosure]] lists) is peeled, so a cycle outside it passes, and
    * the depths join `inner`: the closure's rows remain, the root's even
    * without edges.
    */
  def topoOrder(df: DataFrame, keyCol: String, edges: DataFrame,
      root: Option[Any] = None): DataFrame = {
    val p = peelSinks(edges, root.map(Seq(_)))
    failOnCycle(p, WitnessLimit)
    val depth = depthFrame(df.sparkSession, p).toDF("__node", "depth")
    df.join(broadcast(depth), df(keyCol) === col("__node"),
        if (root.isDefined) "inner" else "left")
      .drop("__node")
      .withColumn("__ord", coalesce(col("depth"), lit(0)))
      .drop("depth")
  }

  /** k-core peel, `iters` rounds over a SYMMETRIZED edge set: each
    * round drops every node whose current degree is < k, then the
    * edges touching it (Seidman's k-core, Network s 5(3) 1983 — the
    * standard "dense part of the graph" extraction of web-graph and
    * co-occurrence curation). Returns the nodes still alive after
    * `iters` peels with their degree in the surviving subgraph. A
    * fixed `iters` is the engine's fixpoint convention (q73/q93): the
    * result is "the graph after N peels" — deterministic, all-integer,
    * so the whole peel unrolls into chained CTEs; peeling converges
    * once no round removes a node (fixpoint spec-checked).
    *
    * Scale shape per round: one map-side-combined degree count + two
    * semi joins (src-alive, dst-alive), checkpointed per step like
    * every fixpoint here. */
  def kCorePeel(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    var e = checkpointed(edges.toDF("src", "dst"))
    for (_ <- 0 until iters) {
      val alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("__n"))
      val prev = e
      e = checkpointed(
        e.join(alive.withColumnRenamed("__n", "src"), Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("__n", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))
      free(prev)
    }
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge set, MAX-normalized: per round
    *   auth(j) = Σ_{i→j} hub(i);  auth ← round6(auth / max_j auth)
    *   hub(i)  = Σ_{i→j} auth(j); hub  ← round6(hub / max_i hub)
    * Max normalization (not the textbook L2) keeps the normalizer
    * reduction-ORDER-FREE — a float sum over all nodes would depend on
    * partition order, while the max of per-node sums is invariant up
    * to the per-node ulps the 6-dp re-pin absorbs (the q73 pagerank
    * rounding convention, so the whole fixpoint unrolls into the SQL
    * oracle's chained CTEs). Returns `(node, kind, score)` with kind ∈
    * {hub, auth}: hubs are the nodes with out-edges, authorities the
    * nodes with in-edges (every such node gets a score — sums over a
    * total bipartite-style edge frame produce no nulls).
    *
    * Scale shape: the edge set is checkpointed hash-partitioned once;
    * each round shuffles only the node-sized score frame to meet it
    * (max is a 1-row broadcast), and superseded rounds free their
    * checkpoint blocks ([[free]]) like every fixpoint here. */
  def hits(edges: DataFrame, iters: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    // authorities only exist after a first hub→auth pass; iters == 0
    // would leave `auth` null and NPE in the final union, unlike the
    // other fixpoints here which degrade to their init frame
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    val round6 = (c: Column) =>
      graft.functions.MysqlFunctions.oracleRound(c, 6)
    val e0 = edges.toDF("src", "dst")
    val e = checkpointed(
      (if (assumeDistinct) e0 else e0.distinct()).repartition(col("src")))
    var hub = checkpointed(
      e.select(col("src").as("node")).distinct().withColumn("h", lit(1.0)))
    var auth: DataFrame = null
    for (_ <- 0 until iters) {
      val araw = e.join(hub, e("src") === hub("node"))
        .groupBy(col("dst").as("anode")).agg(sum(col("h")).as("m"))
      val amax = araw.agg(max(col("m")).as("mx"))
      val nextAuth = checkpointed(araw.crossJoin(broadcast(amax))
        .select(col("anode").as("node"),
          round6(col("m") / col("mx")).as("a")))
      if (auth != null) free(auth)
      auth = nextAuth
      val hraw = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src").as("hnode")).agg(sum(col("a")).as("m"))
      val hmax = hraw.agg(max(col("m")).as("mx"))
      val nextHub = checkpointed(hraw.crossJoin(broadcast(hmax))
        .select(col("hnode").as("node"),
          round6(col("m") / col("mx")).as("h")))
      free(hub)
      hub = nextHub
    }
    hub.select(col("node"), lit("hub").as("kind"), col("h").as("score"))
      .unionAll(auth.select(col("node"), lit("auth").as("kind"),
        col("a").as("score")))
  }
}

class CycleException(msg: String) extends RuntimeException(msg)
