package graft.graph

import graft.core.Blocks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.CheckpointStats
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Driver-local bottom-out for sub-threshold graph subproblems (r19
  * optimization round, guide §1.2 "fix the distributed algorithm"):
  * iterative fixpoints (FW-BW SCC passes, star-contraction components,
  * PageRank / label-propagation rounds, k-core peels, BFS levels) cost
  * one-or-more Spark jobs per round, so a 20-round fixpoint over a few
  * thousand rows pays ~0.2 s × jobs of pure scheduling — orders of
  * magnitude over the arithmetic. Every serious parallel SCC/CC
  * implementation bottoms out its recursion on a serial solve once the
  * subproblem fits in one task (Hong, Rodia & Olukotun, "On fast
  * parallel detection of strongly connected components", SC'13 —
  * FW-BW-Trim with serial Tarjan below a size cutoff; Spark's own
  * planner makes the same class of decision with
  * `spark.sql.autoBroadcastJoinThreshold`; Pregelix picks a superstep's
  * physical plan from an observable property of its input).
  *
  * ONE rule decides local versus distributed: [[collectBounded]], a single
  * `limit(cutoff+1).collect()` action over exactly the rows that would
  * cross to the driver. Under the cutoff the collected rows ARE the
  * input of the serial solve; over it the operator checkpoints its input
  * and runs its distributed loop. An input that is a plan (a `distinct`,
  * a pair query) is first executed up to its final stage
  * ([[probeInput]]), so a decline re-reads the probe's shuffle output
  * instead of running the plan's scan and shuffle a second time: the
  * decline costs the probe's bounded read (one task, at most cutoff + 1
  * rows) over the distributed loop. The cutoff is
  * `spark.graft.graph.localSolveMaxEdges` (rows; default 100 000 ≈ a few
  * MB collected — broadcast-class driver traffic, far under
  * `spark.driver.maxResultSize`); `0` disables every local path, which
  * keeps the distributed loops parity-spec'd and oracle-checked.
  *
  * What is collected, per operator:
  *  - [[Scc.components]], [[KTruss.peel]], [[Betweenness]]: the distinct
  *    edge set the distributed loop would checkpoint.
  *  - [[PageRank.ranksHistory]], [[LabelPropagation.communitiesHistory]]
  *    (string keys) and [[Vle.reachability]]'s BFS regime (string keys,
  *    plus its seed frame): the distinct DIRECTED pairs; LPA symmetrizes
  *    them here, on the driver.
  *  - [[KCore.peel]] / [[KCore.kcore]]: the canonical (least, greatest)
  *    pairs, symmetrized here — half the rows of the symmetric set.
  *  - [[graft.pipeline.Dedup.components]]: the pair list as given.
  *  - the incremental maintainers' region-reach cones
  *    ([[IncrementalAnalytics.reachClosure]]) and batch folds.
  *  - the Kusto, MQTT and webhook event sinks: a micro-batch's delivery
  *    rows ([[graft.streaming.EventPipeline.ClientSink]]); over the cutoff
  *    they are delivered on the executors, one client per partition.
  *
  * Every local result is a `coalesce(1)` local relation ([[frame]]) with
  * the distributed result's column names and types; it holds no
  * persisted RDD. A null endpoint or a key type without value equality
  * ([[valueEqualKeyType]]) declines to the distributed path.
  *
  * At 100 TB the top-level graphs are far above the cutoff and take the
  * distributed operators; what bottoms out is the RESIDUE those operators
  * are designed to shrink — the FW-BW remainder after trim+coloring
  * passes, the quotient/condensation graph of an SCC refresh, the
  * mutation cone of an incremental maintainer — exactly the subproblems
  * that are cone-sized by contract, not corpus-sized.
  *
  * Determinism: labels are min-member under UNSIGNED UTF-8 BYTE order —
  * the same total order Spark's `min`/`least` use for StringType
  * (UTF8String binary comparison); the integer fixpoints use the
  * distributed loops' exact integer arithmetic — so the local and
  * distributed paths are bit-identical (parity-spec'd in LocalGraphSpec
  * on random graphs).
  */
object LocalGraph {

  /** Max rows a subproblem may collect to be solved driver-side. The env
    * fallback (`SPARK_GRAFT_LOCAL_SOLVE_MAX_EDGES`) lets Verify and the
    * test suites run with the bottom-out disabled (`0`) so the
    * DISTRIBUTED fixpoints keep oracle + bench coverage. */
  def maxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.localSolveMaxEdges")
      .orElse(sys.env.get("SPARK_GRAFT_LOCAL_SOLVE_MAX_EDGES"))
      .getOrElse("100000").toLong

  /** Unsigned UTF-8 byte comparison — UTF8String.compareTo's order, the
    * one Spark's min/least apply to StringType. Java's String.compareTo
    * (UTF-16 code units) disagrees above the BMP, so it must not be used
    * here (the r18 key-order unification hit exactly this trap). */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The local-or-distributed decision: collect a frame when it holds at
    * most `cutoff` rows (None over it, or when the cutoff is 0) with ONE
    * `limit(cutoff + 1).collect()` action — the probe and the collect are
    * the same scan, which stops once cutoff+1 rows are found. On a
    * single-partition input (coalesce it) that is one Spark job past any
    * shuffle map stage. */
  def collectBounded(df: DataFrame, cutoff: Long)
      : Option[Array[Row]] =
    if (cutoff <= 0) None
    else {
      val rows =
        if (cutoff >= Int.MaxValue - 1) df.collect()
        else df.limit(cutoff.toInt + 1).collect()
      if (rows.length > cutoff) None else Some(rows)
    }

  /** The input an operator probes with [[collectBounded]] and, when the
    * solve declines, checkpoints: `df` executed once up to its final
    * stage ([[CheckpointStats.executed]]: the scan, shuffle-map and
    * broadcast stages run when this is called). Spark reuses no exchange
    * across queries, so probing and then checkpointing the plain plan
    * would run those stages twice; over the executed frame the probe
    * reads the shuffle output up to cutoff + 1 rows and the checkpoint
    * re-reads it without re-running them. Nothing is persisted. `df`
    * itself when the cutoff is 0 (no probe runs) or when re-reading it
    * costs no more than re-reading stored rows
    * ([[Blocks.isRematerializable]]). */
  def probeInput(df: DataFrame): DataFrame =
    if (maxEdges(df.sparkSession) <= 0 || Blocks.isRematerializable(df)) df
    else CheckpointStats.executed(df)

  /** A driver-side result as a frame. `coalesce(1)`: a LocalRelation
    * otherwise scans as min(rows, defaultParallelism) one-row TASKS per
    * consumer (Spark's LocalTableScanExec slicing) — a 30-row solve
    * consumed by three splice joins cost 90 scheduled tasks per job for
    * driver-memory rows (r20). */
  def frame(spark: SparkSession, schema: StructType,
      rows: Iterable[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
      .coalesce(1)

  /** A driver-side fixpoint's per-round (node, `value`) frames. */
  def roundFrames(spark: SparkSession, nodeType: DataType, value: String,
      nodes: Array[AnyRef], rounds: IndexedSeq[Array[Long]]): IndexedSeq[DataFrame] = {
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField(value, LongType)))
    rounds.map(r => frame(spark, schema, nodes.indices.map(i => Row(nodes(i), r(i)))))
  }

  /** Collect a two-column edge frame of any VALUE-EQUAL key type (the
    * values only need well-behaved equals/hashCode; see
    * [[valueEqualKeyType]]) when it holds at most `cutoff` rows; None ⇒
    * stay distributed, as for a null endpoint (it has no defined place in
    * the solves' key sets — the distributed path keeps its SQL null
    * semantics). The frame is read as ONE task (`coalesce(1)`), so pass a
    * plan that ends in a shuffle (a `distinct`) or a checkpoint: the
    * scan stops after cutoff+1 rows either way. */
  def collectEdgesAny(e: DataFrame, cutoff: Long)
      : Option[Array[(AnyRef, AnyRef)]] =
    if (!e.schema.fields.forall(f => valueEqualKeyType(f.dataType))) None
    else collectBounded(e.coalesce(1), cutoff).flatMap { rows =>
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else Some(rows.map(r => (r.get(0).asInstanceOf[AnyRef],
        r.get(1).asInstanceOf[AnyRef])))
    }

  /** [[collectEdgesAny]] for (string, string) edge frames; any other key
    * type declines. */
  def collectEdges(e: DataFrame, cutoff: Long): Option[Array[(String, String)]] =
    if (!e.schema.fields.forall(_.dataType == StringType)) None
    else collectEdgesAny(e, cutoff).map(_.map { case (a, b) =>
      (a.asInstanceOf[String], b.asInstanceOf[String]) })

  /** Dense ids 0..n-1 for the endpoints of a pair list (first-seen
    * order), plus the pairs as id arrays. */
  private[graft] final class Indexed(pairs: Array[(AnyRef, AnyRef)],
      extraNodes: Iterator[AnyRef] = Iterator.empty) {
    private val ids = new java.util.HashMap[AnyRef, Integer]()
    private val buf = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    private def id(x: AnyRef): Int = {
      val v = ids.get(x)
      if (v != null) v.intValue()
      else { ids.put(x, Integer.valueOf(buf.length)); buf += x; buf.length - 1 }
    }
    val src = new Array[Int](pairs.length)
    val dst = new Array[Int](pairs.length)
    pairs.indices.foreach { i => src(i) = id(pairs(i)._1); dst(i) = id(pairs(i)._2) }
    extraNodes.foreach(id)
    val names: Array[AnyRef] = buf.toArray
    def n: Int = names.length
    /** CSR out-adjacency of `us(i) → vs(i)`: node v's targets are
      * `adj(off(v) until off(v + 1))`. */
    def csr(us: Array[Int] = src, vs: Array[Int] = dst): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      us.foreach(u => off(u + 1) += 1)
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val fill = java.util.Arrays.copyOf(off, n)
      val adj = new Array[Int](us.length)
      i = 0
      while (i < us.length) { adj(fill(us(i))) = vs(i); fill(us(i)) += 1; i += 1 }
      (off, adj)
    }
  }

  /** Serial SCC labels (node → min member id, UTF-8 order) over a
    * directed edge list — iterative Tarjan, explicit stacks (no JVM
    * recursion: a 100k-edge chain would blow the call stack).
    * `extraNodes` are edge-free nodes that still need a singleton row. */
  def sccLabels(edges: Array[(String, String)],
      extraNodes: Iterator[String] = Iterator.empty): Array[(String, String)] = {
    val g = new Indexed(edges.map { case (a, b) => (a: AnyRef, b: AnyRef) },
      extraNodes)
    val n = g.n
    val (off, adj) = g.csr()
    val names = g.names.map(_.asInstanceOf[String])
    // iterative Tarjan
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new java.util.ArrayDeque[Integer]()
    val comp = Array.fill(n)(-1)
    var counter = 0
    var nComp = 0
    val frame = new scala.collection.mutable.ArrayBuffer[Int]()
    val fpos = new scala.collection.mutable.ArrayBuffer[Int]()
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        frame += root; fpos += off(root)
        index(root) = counter; low(root) = counter; counter += 1
        stack.push(root); onStack(root) = true
        while (frame.nonEmpty) {
          val v = frame(frame.length - 1)
          val p = fpos(fpos.length - 1)
          if (p < off(v + 1)) {
            fpos(fpos.length - 1) = p + 1
            val w = adj(p)
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stack.push(w); onStack(w) = true
              frame += w; fpos += off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            frame.remove(frame.length - 1); fpos.remove(fpos.length - 1)
            if (frame.nonEmpty) {
              val parent = frame(frame.length - 1)
              if (low(v) < low(parent)) low(parent) = low(v)
            }
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) {
                w = stack.pop().intValue()
                onStack(w) = false
                comp(w) = nComp
              }
              nComp += 1
            }
          }
        }
      }
      root += 1
    }
    // label = min member per component, unsigned UTF-8 order
    val minOf = new Array[String](nComp)
    var i = 0
    while (i < n) {
      val c = comp(i)
      if (minOf(c) == null || utf8Lt(names(i), minOf(c))) minOf(c) = names(i)
      i += 1
    }
    val out = new Array[(String, String)](n)
    i = 0
    while (i < n) { out(i) = (names(i), minOf(comp(i))); i += 1 }
    out
  }

  /** Serial connected components (node → min reachable id under `lt`)
    * over an UNDIRECTED pair list — union-find with path compression,
    * min-member tracked at the root. Covers every endpoint node. Keys
    * are compared with equals (boxed longs, strings, …); `lt` must match
    * the total order Spark's `min` applies to the column type. */
  def componentLabelsAny(pairs: Array[(AnyRef, AnyRef)],
      lt: (AnyRef, AnyRef) => Boolean): Array[(AnyRef, AnyRef)] = {
    val parent = new java.util.HashMap[AnyRef, AnyRef]()
    val minLab = new java.util.HashMap[AnyRef, AnyRef]()
    def find(x0: AnyRef): AnyRef = {
      var x = x0
      var p = parent.get(x)
      while (p != null && p != x) { x = p; p = parent.get(x) }
      var y = x0
      while (y != x) { val nxt = parent.get(y); parent.put(y, x); y = nxt }
      x
    }
    def add(x: AnyRef): Unit =
      if (!parent.containsKey(x)) { parent.put(x, x); minLab.put(x, x) }
    pairs.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        parent.put(rb, ra)
        val ma = minLab.get(ra); val mb = minLab.get(rb)
        minLab.put(ra, if (lt(mb, ma)) mb else ma); minLab.remove(rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(AnyRef, AnyRef)](parent.size())
    parent.keySet().forEach { k => out += ((k, minLab.get(find(k)))) }
    out.toArray
  }

  /** Key types whose collected JVM values compare by VALUE under
    * equals/hashCode — the contract the local peels' hash sets need.
    * BinaryType is excluded explicitly: `Row.get` yields `Array[Byte]`
    * with reference equality, which would silently fragment nodes on the
    * local path while the distributed joins compare by value (r19
    * advice). Non-atomic types (arrays, structs, maps) stay distributed
    * for the same reason. */
  private[graft] def valueEqualKeyType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BinaryType | _: ArrayType | _: MapType | _: StructType |
           _: UserDefinedType[_] | VariantType | ObjectType(_) => false
      case NullType => false
      case _ => true // string / numeric / boolean / date-time / decimal boxes
    }
  }

  /** Synchronous k-core peel over a SYMMETRIC distinct edge list — the
    * exact round semantics of [[KCore.peelRound]]: round r keeps nodes
    * with ≥ k round-(r−1)-surviving neighbors, all dropped at once.
    * Runs `rounds` rounds; a round that drops nothing is a fixpoint
    * (later rounds are no-ops), so it exits early with the same set. */
  def kcoreSurvivors(sym: Array[(AnyRef, AnyRef)], k: Int,
      rounds: Int): Array[AnyRef] = {
    val adj = new java.util.HashMap[AnyRef, scala.collection.mutable.ArrayBuffer[AnyRef]]()
    sym.foreach { case (u, v) =>
      var l = adj.get(u)
      if (l == null) { l = new scala.collection.mutable.ArrayBuffer[AnyRef](); adj.put(u, l) }
      l += v
    }
    var alive = new java.util.HashSet[AnyRef](adj.keySet())
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val next = new java.util.HashSet[AnyRef]()
      alive.forEach { u =>
        var d = 0
        val l = adj.get(u)
        if (l != null) l.foreach(v => if (alive.contains(v)) d += 1)
        if (d >= k) { next.add(u); () }
      }
      changed = next.size() != alive.size()
      alive = next
      r += 1
    }
    val out = new Array[AnyRef](alive.size())
    var i = 0
    val it = alive.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Synchronous k-truss peel over a CANONICAL (a, b) edge list — the
    * exact round semantics of [[KTruss.peel]]: round r keeps edges whose
    * triangle support among round-(r−1) survivors is ≥ k−2, all dropped
    * at once. Early-exits on a no-drop round (fixpoint). */
  def ktrussSurvivors(edges: Array[(AnyRef, AnyRef)], k: Int,
      rounds: Int): Array[(AnyRef, AnyRef)] = {
    var cur: Array[(AnyRef, AnyRef)] = edges
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val nbrs = new java.util.HashMap[AnyRef, java.util.HashSet[AnyRef]]()
      def add(x: AnyRef, y: AnyRef): Unit = {
        var s = nbrs.get(x)
        if (s == null) { s = new java.util.HashSet[AnyRef](); nbrs.put(x, s) }
        s.add(y); ()
      }
      cur.foreach { case (a, b) => add(a, b); add(b, a) }
      val kept = cur.filter { case (a, b) =>
        val sa = nbrs.get(a); val sb = nbrs.get(b)
        val (small, big) = if (sa.size() <= sb.size()) (sa, sb) else (sb, sa)
        var sup = 0
        val it = small.iterator()
        while (it.hasNext && sup < k - 2) {
          val x = it.next()
          if (x != a && x != b && big.contains(x)) sup += 1
        }
        sup >= k - 2
      }
      changed = kept.length != cur.length
      cur = kept
      r += 1
    }
    cur
  }

  /** The comparison Spark's `min` uses for a column type, when this
    * module can reproduce it exactly; None ⇒ stay distributed. */
  def sparkLt(dt: org.apache.spark.sql.types.DataType)
      : Option[(AnyRef, AnyRef) => Boolean] = dt match {
    case org.apache.spark.sql.types.StringType =>
      Some((a, b) => utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String]))
    case org.apache.spark.sql.types.LongType =>
      Some((a, b) => a.asInstanceOf[java.lang.Long] < b.asInstanceOf[java.lang.Long])
    case org.apache.spark.sql.types.IntegerType =>
      Some((a, b) => a.asInstanceOf[java.lang.Integer] < b.asInstanceOf[java.lang.Integer])
    case _ => None
  }

  /** Serial reachability (seed set closure over src→dst edges). Returns
    * every visited node including edge-free seeds. */
  def reachNodes(edges: Array[(String, String)],
      seeds: Array[String]): Array[String] = {
    val adj = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[String]]()
    edges.foreach { case (a, b) =>
      var l = adj.get(a)
      if (l == null) { l = new scala.collection.mutable.ArrayBuffer[String](); adj.put(a, l) }
      l += b
    }
    val visited = new java.util.LinkedHashSet[String]()
    val queue = new java.util.ArrayDeque[String]()
    seeds.foreach { s => if (visited.add(s)) queue.add(s) }
    while (!queue.isEmpty) {
      val v = queue.poll()
      val l = adj.get(v)
      if (l != null) l.foreach { w => if (visited.add(w)) queue.add(w) }
    }
    val out = new Array[String](visited.size())
    var i = 0
    val it = visited.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** [[PageRank.ranksHistory]]'s rounds over a DISTINCT directed pair
    * list, in its exact integer arithmetic: each round is `rank div
    * outdeg` summed per target, then `150000 + (85 · Σ) div 100`, from
    * 1 000 000. Returns the nodes and every round's ranks (index-aligned). */
  def pagerankRounds(pairs: Array[(AnyRef, AnyRef)], iterations: Int)
      : (Array[AnyRef], IndexedSeq[Array[Long]]) = {
    val g = new Indexed(pairs)
    val outdeg = new Array[Long](g.n)
    g.src.foreach(outdeg(_) += 1)
    var rank = Array.fill(g.n)(1000000L)
    val hist = (1 to iterations).map { _ =>
      val contrib = new Array[Long](g.n)
      var i = 0
      while (i < g.src.length) {
        val s = g.src(i)
        contrib(g.dst(i)) += rank(s) / outdeg(s)
        i += 1
      }
      rank = contrib.map(c => 150000L + 85L * c / 100L)
      rank
    }
    (g.names, hist)
  }

  /** [[LabelPropagation.communitiesHistory]]'s rounds over a DISTINCT
    * directed pair list, symmetrized here (a self-loop makes a node its
    * own neighbor once): each round every node takes its neighbors' most
    * frequent previous label, ties to the smallest label, starting from
    * `init(node)`. Returns the nodes and every round's labels. */
  def lpaRounds(pairs: Array[(AnyRef, AnyRef)], init: AnyRef => Long,
      rounds: Int): (Array[AnyRef], IndexedSeq[Array[Long]]) = {
    val g = new Indexed(pairs)
    val seen = new java.util.HashSet[java.lang.Long]()
    val us = scala.collection.mutable.ArrayBuilder.make[Int]
    val vs = scala.collection.mutable.ArrayBuilder.make[Int]
    def add(u: Int, v: Int): Unit =
      if (seen.add((u.toLong << 32) | v)) { us += u; vs += v }
    g.src.indices.foreach { i => add(g.src(i), g.dst(i)); add(g.dst(i), g.src(i)) }
    val (off, adj) = g.csr(us.result(), vs.result())
    var lab = g.names.map(init)
    val hist = (1 to rounds).map { _ =>
      val prev = lab
      lab = Array.tabulate(g.n) { u =>
        val votes = scala.collection.mutable.HashMap[Long, Int]()
        var best = 0L
        var bestC = 0
        var p = off(u)
        while (p < off(u + 1)) {
          val l = prev(adj(p))
          val c = votes.getOrElse(l, 0) + 1
          votes(l) = c
          if (c > bestC || (c == bestC && l < best)) { best = l; bestC = c }
          p += 1
        }
        best
      }
      lab
    }
    (g.names, hist)
  }

  /** [[Vle.reachability]]'s BFS regime over a DISTINCT directed pair list:
    * for every start node (all nodes when `starts` is None), the minimal
    * depth in 1..maxDepth of each node it reaches. The start is not
    * marked visited, so (s, s) appears when a cycle leads back to it.
    * Returns the (start, end, depth) rows and the number of pairs first
    * reached at each depth (index 0 = depth 1), or None once the rows
    * would pass `limit`. */
  def bfsDepths(pairs: Array[(AnyRef, AnyRef)], starts: Option[Set[AnyRef]],
      maxDepth: Int, limit: Long)
      : Option[(Array[(AnyRef, AnyRef, Int)], IndexedSeq[Long])] = {
    val g = new Indexed(pairs)
    val (off, adj) = g.csr()
    val out = scala.collection.mutable.ArrayBuffer[(AnyRef, AnyRef, Int)]()
    val levels = scala.collection.mutable.ArrayBuffer[Long](0L)
    val stamp = Array.fill(g.n)(-1)
    var s = 0
    while (s < g.n) {
      if (starts.forall(_.contains(g.names(s)))) {
        var frontier = Array(s)
        var depth = 0
        while (frontier.nonEmpty && depth < maxDepth) {
          val next = scala.collection.mutable.ArrayBuilder.make[Int]
          frontier.foreach { v =>
            var p = off(v)
            while (p < off(v + 1)) {
              val w = adj(p)
              if (stamp(w) != s) { stamp(w) = s; next += w }
              p += 1
            }
          }
          frontier = next.result()
          depth += 1
          if (frontier.nonEmpty) {
            if (out.length + frontier.length > limit) return None
            if (levels.length < depth) levels += 0L
            levels(depth - 1) += frontier.length
            frontier.foreach(w => out += ((g.names(s), g.names(w), depth)))
          }
        }
      }
      s += 1
    }
    Some((out.toArray, levels.toIndexedSeq))
  }
}
