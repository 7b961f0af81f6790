package graft

/** Plain-Scala references for the graph specs: each answers one
  * `GraphOps` question over an in-memory edge list, by a different
  * algorithm than the one under test. Edges with a null endpoint are
  * dropped, as `GraphOps` drops them. */
object GraphReference {

  private def live(es: Seq[(Any, Any)]): Seq[(Any, Any)] =
    es.filter { case (a, b) => a != null && b != null }

  private def successors(es: Seq[(Any, Any)]): Map[Any, Seq[Any]] =
    live(es).groupMap(_._1)(_._2)

  /** Longest-path depth of every edge endpoint, by memoized DFS: 0
    * without out-edges, else 1 + the deepest successor. Acyclic input. */
  def depths(es: Seq[(Any, Any)]): Map[Any, Int] = {
    val succ = successors(es)
    val memo = scala.collection.mutable.HashMap.empty[Any, Int]
    def depth(n: Any): Int = memo.get(n) match {
      case Some(d) => d
      case None =>
        val d = succ.getOrElse(n, Nil).map(depth(_) + 1).maxOption.getOrElse(0)
        memo(n) = d
        d
    }
    live(es).flatMap(e => Seq(e._1, e._2)).map(n => n -> depth(n)).toMap
  }

  /** Every node reachable from `roots` by BFS, roots included. */
  def closure(es: Seq[(Any, Any)], roots: Seq[Any]): Set[Any] = {
    val succ = successors(es)
    var seen = roots.toSet
    var frontier = seen
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(succ.getOrElse(_, Nil)) -- seen
      seen ++= frontier
    }
    seen
  }

  /** The nodes that can reach a cycle: drop every node without an
    * out-edge into the remaining set until none drops. */
  def cycleReaching(es: Seq[(Any, Any)]): Set[Any] = {
    val edges = live(es)
    var remaining = edges.flatMap(e => Seq(e._1, e._2)).toSet
    var before = Set.empty[Any]
    while (remaining != before) {
      before = remaining
      remaining = edges.collect { case (a, b) if remaining(b) => a }.toSet
    }
    remaining
  }

  /** Component minimum per node by union-find, over the edges without a
    * null endpoint or a self-loop — the nodes connectedComponentsStar
    * keeps. */
  def components(es: Seq[(Any, Any)], ord: Ordering[Any]): Map[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    live(es).filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}
