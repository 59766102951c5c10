package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** Strongly connected components over the directed relationship graph —
  * the Forward-Backward-Trim coloring algorithm (Orzan 2004; the same
  * shape as Spark GraphX's `StronglyConnectedComponents`), expressed as
  * DataFrame rounds so Catalyst plans every step.
  *
  * The reference exposes the digraph through AGE (openCypher over
  * directed edges, src/AgeDigitalTwins/AgeDigitalTwinsClient.Query.cs);
  * cycle structure — "which twins form a mutually-reachable cluster" —
  * is the natural digraph analytics companion to the undirected
  * components used by dedup ([[graft.pipeline.Dedup]]).
  *
  * Per outer pass:
  *   1. TRIM — iteratively peel nodes with no incoming or no outgoing
  *      edge among the remaining subgraph; each is its own singleton
  *      SCC. This resolves DAG tails/chains in O(longest chain) cheap
  *      anti-join rounds instead of one coloring pass per node (the
  *      classic FW-BW pathology on path graphs).
  *   2. FW — propagate the lexicographic-min node id FORWARD to
  *      fixpoint: fwd(v) = min id over {u : u ⇝ v} ∪ {v}.
  *   3. BW — the same against edge direction:
  *      bwd(v) = min id over {u : v ⇝ u} ∪ {v}.
  *   4. Nodes with fwd(v) == bwd(v) == m are exactly the SCC containing
  *      node m (m ⇝ v and v ⇝ m ⇒ mutual reachability), and every
  *      member of that SCC resolves in the same pass with label m =
  *      the SCC's min member id (an external smaller-id ancestor of any
  *      member reaches all members, so it would lower ALL their fwd
  *      labels equally). Resolved nodes and their edges leave the
  *      subgraph; the remainder repeats.
  *
  * Scale shape: every round is one equi-join of a (node, label) table
  * against the edge list plus a map-side-combinable `min` — the
  * [[PageRank]] discipline. Lineage is truncated per round via eager
  * `localCheckpoint` in a [[graft.core.Blocks.Scope]], which frees
  * superseded blocks — also when a pass throws;
  * convergence checks are bounded driver-side scalar counts over already
  * materialized blocks. Labels are node-id strings, so `min` is
  * order-independent ⇒ bit-identical output on any partitioning.
  */
object Scc {

  /** (node, scc) for every node appearing as an endpoint in `edges`
    * (columns `src`, `dst`; direction matters). `scc` is the
    * lexicographic-min member id of the node's strongly connected
    * component.
    *
    * @param maxOuter  cap on FW-BW peel passes; each pass resolves ≥1
    *                  SCC (always the one holding a bidirectional
    *                  running minimum), so this bounds work on
    *                  adversarial inputs. Exceeding it throws — a
    *                  truncated SCC labeling is silently wrong.
    * @param maxInner  cap on label-propagation rounds per fixpoint;
    *                  needs to reach the remaining subgraph's diameter.
    */
  def components(edges: DataFrame, maxOuter: Int = 50,
                 maxInner: Int = 200): DataFrame = {
    val distinctEdges = LocalGraph.probeInput(edges.select(
        col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .distinct())
    val spark = edges.sparkSession
    val localMax = LocalGraph.maxEdges(spark)
    // Sub-cutoff bottom-out (r19, LocalGraph doc): a whole graph at or
    // under the cutoff resolves in one serial Tarjan instead of
    // O(diameter × passes) Spark jobs; the edges are checkpointed only
    // when it declines. Counts as one pass against maxOuter (maxOuter = 0
    // keeps the loud non-convergence guard).
    (if (maxOuter > 0) LocalGraph.collectEdges(distinctEdges, localMax) else None)
      .map(es => localDf(spark, LocalGraph.sccLabels(es)))
      .getOrElse(passes(distinctEdges, maxOuter, maxInner, localMax))
  }

  /** [[components]]' distributed path: FW-BW-Trim passes over the
    * distinct edges, bottoming out on the driver once the remainder fits
    * `localMax`. */
  private def passes(distinctEdges: DataFrame, maxOuter: Int, maxInner: Int,
      localMax: Long): DataFrame = Blocks.scoped { s =>
    val spark = distinctEdges.sparkSession
    val e0 = s.compact(distinctEdges)
    var rem = s.compact(e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct())
    var e = e0
    var resolvedParts = List.empty[DataFrame] // each a checkpoint
    var pass = 0
    var remCount = rem.count()
    while (remCount > 0 && pass < maxOuter) {
      pass += 1
      // Recursion bottom-out: trim + resolved passes shrink the remainder
      // every iteration; once it fits the cutoff, one serial Tarjan
      // replaces the remaining O(diameter) coloring rounds. rem can hold
      // edge-free nodes (neighbors all resolved) — carried as singletons.
      (if (remCount <= localMax) LocalGraph.collectEdges(e, localMax) else None) match {
        case Some(es) =>
          val remNodes = rem.collect().map(_.getString(0))
          resolvedParts ::= localDf(spark,
            LocalGraph.sccLabels(es, remNodes.iterator))
          remCount = 0
        case None =>
          // 1. Trim: peel in-degree-0 / out-degree-0 nodes iteratively.
          var trimming = true
          while (trimming) {
            val hasIn = e.select(col("dst").as("node")).distinct()
            val hasOut = e.select(col("src").as("node")).distinct()
            val interior = s.compact(rem.join(hasIn, Seq("node"), "left_semi")
              .join(hasOut, Seq("node"), "left_semi"))
            val interiorCount = interior.count()
            if (interiorCount == remCount) trimming = false
            else {
              resolvedParts ::= s.compact(rem.join(interior, Seq("node"), "left_anti")
                .select(col("node"), col("node").as("scc")))
              e = s.compact(e.join(interior.withColumnRenamed("node", "src"),
                  Seq("src"), "left_semi")
                .join(interior.withColumnRenamed("node", "dst"),
                  Seq("dst"), "left_semi")
                .select(col("src"), col("dst")))
              rem = interior
              remCount = interiorCount
            }
            s.keep(rem, e, resolvedParts)
          }
          if (remCount == 0) {
            pass = maxOuter // nothing cyclic left; exit outer loop
          } else {
            // 2./3. Min-label fixpoints in both directions.
            val fwd = minLabelFixpoint(rem, e, maxInner)
            val bwd = minLabelFixpoint(rem,
              e.select(col("dst").as("src"), col("src").as("dst")), maxInner)
            val joined = fwd.withColumnRenamed("lab", "f")
              .join(bwd.withColumnRenamed("lab", "b"), "node")
            resolvedParts ::= s.compact(joined.filter(col("f") === col("b"))
              .select(col("node"), col("f").as("scc")))
            rem = s.compact(joined.filter(col("f") =!= col("b"))
              .select(col("node")))
            e = s.compact(e.join(rem.withColumnRenamed("node", "src"),
                Seq("src"), "left_semi")
              .join(rem.withColumnRenamed("node", "dst"),
                Seq("dst"), "left_semi")
              .select(col("src"), col("dst")))
            s.keep(rem, e, resolvedParts)
            remCount = rem.count()
          }
      }
    }
    if (remCount > 0)
      throw new IllegalStateException(
        s"SCC did not converge within $maxOuter FW-BW passes " +
          s"($remCount nodes unresolved) — raise maxOuter")
    resolvedParts match {
      case Nil => spark.emptyDataFrame
        .withColumn("node", lit(null).cast("string"))
        .withColumn("scc", lit(null).cast("string"))
        .limit(0)
      case parts => parts.reduce(_ unionByName _)
    }
  }

  /** (node, scc) rows from a driver-side solve. */
  private def localDf(spark: org.apache.spark.sql.SparkSession,
      labels: Array[(String, String)]): DataFrame = {
    import org.apache.spark.sql.types._
    LocalGraph.frame(spark, StructType(Seq(StructField("node", StringType),
        StructField("scc", StringType))),
      labels.map { case (n, c) => org.apache.spark.sql.Row(n, c) })
  }

  /** Propagate the min label along `edges` (src → dst) until no label
    * changes. Returns (node, lab); every input node keeps a row.
    *
    * Delta propagation: only the rows whose label DROPPED last round are
    * joined against the edge list (the frontier), so per-round join work
    * tracks the wave of still-moving labels, not the node set — on a
    * 100 TB graph most labels settle in a few rounds and later rounds
    * touch a vanishing frontier. Change detection is folded into the
    * same round plan as a `chg` flag; the convergence probe is a narrow
    * count over the already-materialized checkpoint, not a second
    * shuffle.
    *
    * Pointer doubling (r19): each round ALSO adopts the label of its own
    * current label (lab(v) reaches v, so lab(lab(v)) reaches v — the
    * invariant "lab(v) ∈ ancestors(v) ∪ {v}" is preserved), which turns
    * O(diameter) convergence into O(log diameter) — the same shortcut
    * [[graft.pipeline.Dedup.componentsMinLabel]] applies undirected. The
    * fixpoint is unchanged: the loop exits only when a round changes no
    * label, and edge-stability alone already characterizes the min-
    * ancestor labeling (lab non-increasing along every edge ⇒ lab(v) ≤
    * every ancestor id; lab(v) is itself an ancestor id ⇒ equality). */
  private def minLabelFixpoint(nodes: DataFrame, edges: DataFrame,
      maxInner: Int): DataFrame = Blocks.scoped { s =>
    var lab = s.compact(nodes.select(col("node"), col("node").as("lab")))
    var frontier = lab // every label is "new" in round 1
    var moving = 1L
    var round = 0
    while (moving > 0) {
      round += 1
      if (round > maxInner)
        throw new IllegalStateException(
          s"SCC label fixpoint exceeded $maxInner rounds — raise maxInner")
      val cand = frontier.join(edges, frontier("node") === edges("src"))
        .select(edges("dst").as("node"), frontier("lab").as("lab"))
        .groupBy(col("node")).agg(min(col("lab")).as("cand"))
      val stepped = lab.join(cand, Seq("node"), "left_outer")
        .select(col("node"), col("lab"),
          least(col("lab"), coalesce(col("cand"), col("lab"))).as("mid"))
      // pointer doubling: adopt lab(lab(v)) — every label value is a node
      // id of this subgraph, so the self-join always finds its row
      val asMap = stepped.select(col("node").as("m_node"),
        col("mid").as("m_lab"))
      val next = s.compact(stepped
        .join(asMap, col("mid") === col("m_node"), "left_outer")
        .select(col("node"),
          least(col("mid"), coalesce(col("m_lab"), col("mid"))).as("nlab"),
          col("lab"))
        .select(col("node"), col("nlab").as("lab"),
          (col("nlab") < col("lab")).as("chg")))
      frontier = next.filter(col("chg")).select(col("node"), col("lab"))
      moving = frontier.count()
      lab = next.select(col("node"), col("lab"))
      s.keep(lab, frontier)
    }
    lab
  }
}
