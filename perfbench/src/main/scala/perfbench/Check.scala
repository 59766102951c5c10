package perfbench

import scala.collection.mutable

/** Independent driver-side reference computations for every graph result
  * the benchmark checks. They share no code with the engine: plain
  * union-find, Tarjan, peeling, BFS and the documented integer PageRank
  * and label-propagation rules. Node ids are ASCII, so String order is
  * the engine's byte order. */
object Check {

  private def minId(a: String, b: String): String = if (a.compareTo(b) <= 0) a else b

  /** Weakly connected components over `nodes` (isolated nodes are their
    * own component); label = smallest member id. */
  def components(nodes: Iterable[String], edges: Iterable[(String, String)])
      : Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    nodes.foreach(n => parent(n) = n)
    edges.foreach { case (a, b) => parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b) }
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra.compareTo(rb) < 0) parent(rb) = ra else parent(ra) = rb }
    }
    // union by smaller id keeps every root the minimum of its set
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Strongly connected components of the directed graph over edge
    * endpoints (iterative Tarjan); label = smallest member id. */
  def scc(edges: Iterable[(String, String)]): Map[String, String] = {
    val adj = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer()) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer())
    }
    val index = mutable.HashMap[String, Int]()
    val low = mutable.HashMap[String, Int]()
    val onStack = mutable.HashSet[String]()
    val stack = mutable.Stack[String]()
    val out = mutable.HashMap[String, String]()
    var next = 0
    for (root <- adj.keys if !index.contains(root)) {
      // explicit DFS stack of (node, next-neighbour cursor)
      val work = mutable.Stack[(String, Int)]()
      work.push((root, 0))
      index(root) = next; low(root) = next; next += 1
      stack.push(root); onStack += root
      while (work.nonEmpty) {
        val (v, i) = work.pop()
        val nbrs = adj(v)
        if (i < nbrs.size) {
          work.push((v, i + 1))
          val w = nbrs(i)
          if (!index.contains(w)) {
            index(w) = next; low(w) = next; next += 1
            stack.push(w); onStack += w
            work.push((w, 0))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (work.nonEmpty) {
            val parent = work.top._1
            low(parent) = math.min(low(parent), low(v))
          }
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer[String]()
            var w = ""
            while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
            val label = members.reduce(minId)
            members.foreach(m => out(m) = label)
          }
        }
      }
    }
    out.toMap
  }

  /** Node set of the k-core of the undirected simple graph (self-loops and
    * duplicate pairs dropped), nodes = edge endpoints. */
  def kcore(edges: Iterable[(String, String)], k: Int): Set[String] = {
    val adj = mutable.HashMap[String, mutable.HashSet[String]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.HashSet()) += b
        adj.getOrElseUpdate(b, mutable.HashSet()) += a
      }
    }
    val deg = mutable.HashMap[String, Int]()
    adj.foreach { case (n, s) => deg(n) = s.size }
    val removed = mutable.HashSet[String]()
    val queue = mutable.Queue[String]()
    deg.foreach { case (n, d) => if (d < k) { queue += n; removed += n } }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      adj(n).foreach { m =>
        if (!removed(m)) {
          deg(m) -= 1
          if (deg(m) < k) { removed += m; queue += m }
        }
      }
    }
    adj.keySet.toSet -- removed
  }

  /** Integer PageRank in rank micro-units over the distinct edge set:
    * contribution `rank div outdeg`, next rank
    * `150000 + (85 * Σ contributions) div 100`, starting from 1 000 000. */
  def pagerank(edges: Iterable[(String, String)], iterations: Int): Map[String, Long] = {
    val distinct = edges.toSet.toSeq
    val nodes = distinct.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outdeg = distinct.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank: Map[String, Long] = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      val contrib = mutable.HashMap[String, Long]().withDefaultValue(0L)
      distinct.foreach { case (s, t) => contrib(t) += rank(s) / outdeg(s) }
      rank = nodes.map(n => n -> (150000L + (85L * contrib(n)) / 100L)).toMap
    }
    rank
  }

  /** The 60-bit label seed of a node id: the first 15 hex digits of its MD5. */
  def stableId(s: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val hex = md5.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Synchronous label propagation over the symmetrised distinct edge set:
    * each round every node takes its neighbours' most frequent label,
    * ties to the smallest label value. */
  def labelPropagation(edges: Iterable[(String, String)], rounds: Int): Map[String, Long] = {
    val nbrs = mutable.HashMap[String, mutable.LinkedHashSet[String]]()
    edges.foreach { case (a, b) =>
      nbrs.getOrElseUpdate(a, mutable.LinkedHashSet()) += b
      nbrs.getOrElseUpdate(b, mutable.LinkedHashSet()) += a
    }
    var lab: Map[String, Long] = nbrs.keys.map(n => n -> stableId(n)).toMap
    for (_ <- 1 to rounds) {
      lab = nbrs.map { case (n, ns) =>
        val counts = mutable.HashMap[Long, Int]().withDefaultValue(0)
        ns.foreach(m => counts(lab(m)) += 1)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab
  }

  /** Minimal-depth reachability from `sources` over directed `edges`, up
    * to `maxDepth` hops: (start, end) → depth. A start appears as an end
    * only when a cycle leads back to it. */
  def reachability(edges: Iterable[(String, String)], sources: Seq[String],
      maxDepth: Int): Map[(String, String), Int] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSeq.distinct }
    val out = mutable.HashMap[(String, String), Int]()
    for (s <- sources.distinct) {
      var frontier = adj.getOrElse(s, Nil).distinct
      var depth = 1
      val seen = mutable.HashSet[String]()
      while (frontier.nonEmpty && depth <= maxDepth) {
        val fresh = frontier.filterNot(seen)
        fresh.foreach { n => seen += n; out((s, n)) = depth }
        frontier = fresh.flatMap(n => adj.getOrElse(n, Nil)).distinct
        depth += 1
      }
    }
    out.toMap
  }

  /** (out, in) relationship counts per twin; twins without edges get (0, 0). */
  def degrees(nodes: Iterable[String], edges: Iterable[(String, String)])
      : Map[String, (Long, Long)] = {
    val d = mutable.HashMap[String, (Long, Long)]()
    nodes.foreach(n => d(n) = (0L, 0L))
    edges.foreach { case (a, b) =>
      val (oa, ia) = d.getOrElse(a, (0L, 0L)); d(a) = (oa + 1, ia)
      val (ob, ib) = d.getOrElse(b, (0L, 0L)); d(b) = (ob, ib + 1)
    }
    d.toMap
  }
}
