package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** Deterministic DeepWalk-style random walks over the relationship graph
  * (Perozzi et al., "DeepWalk: Online Learning of Social Representations",
  * KDD 2014) — the standard way to turn a graph into a skip-gram training
  * corpus for node embeddings. The reference has no equivalent operator;
  * this belongs to the pipeline-extension surface (SURVEY §2.F), next to
  * [[PageRank]] and [[LinkPrediction]].
  *
  * The "random" draw is a reproducible hash: at step k, walk w standing on
  * node u moves to the neighbor at index `H4(w:k:u) mod degree(u)` in u's
  * dst-sorted adjacency list, where H4 is the integer value of the first
  * four hex nibbles of md5. That makes every walk bit-identical on any
  * engine (the DuckDB oracle replays the same arithmetic), while still
  * scattering walks uniformly enough to serve as an embedding corpus.
  *
  * Scale shape: each step is TWO equi-joins per live walk — one against
  * the degree table (keyed by node) and one against the indexed adjacency
  * (keyed by (node, idx)) — i.e. O(1) work per walk-step. The naive
  * formulation (join all neighbors, argmin a hash per walk) is O(degree)
  * per step and melts on hubs; the index-pick shape is what survives a
  * graph with 10^8-degree hubs. The adjacency index itself is built once
  * with one window (`row_number` per src); per-iteration
  * `localCheckpoint` truncates the iterative-join lineage. Every step's
  * frontier checkpoint is part of the output; the walk's
  * [[graft.core.Blocks.Scope]] frees the index tables on return.
  */
object RandomWalk {

  /** SQL text for the integer value of hex nibbles `1..n` of column
    * `hexCol` — deliberately restricted to functions DuckDB and Spark SQL
    * evaluate identically (`instr`, `substr`), so the oracle can inline
    * the exact same expression. */
  def nibbleValueSql(hexCol: String, n: Int = 4): String =
    (1 to n)
      .map(i => s"(instr('0123456789abcdef', substr($hexCol, $i, 1)) - 1)")
      .reduce((a, b) => s"(($a) * 16 + $b)")

  /** Undirected edge view (both directions of every relationship),
    * deduplicated: (src, dst). */
  def undirectedEdges(relationships: DataFrame): DataFrame = {
    val fwd = relationships
      .select(col("source_id").as("src"), col("target_id").as("dst"))
    fwd.unionByName(
        relationships.select(col("target_id").as("src"),
          col("source_id").as("dst")))
      .distinct()
  }

  /** `walksPerNode` walks of at most `length` steps from every node of
    * the (undirected) relationship graph. Output rows: (walk_id, step,
    * node) with step 0 = the start node; a walk that reaches a node with
    * no neighbors simply ends early. walk_id = start || '#' || rep. */
  def walks(relationships: DataFrame, length: Int,
            walksPerNode: Int = 1): DataFrame = Blocks.scoped { s =>
    require(length >= 1, s"length must be >= 1, got $length")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    val edges = undirectedEdges(relationships)
    // dst-sorted per-src index; dsts are distinct within a src, so the
    // ordering (hence the index) is total and engine-independent.
    // distinct column names per derived table — adj/deg/frontier all
    // descend from `edges`, and shared names would trip the ambiguous
    // self-join analyzer when the step joins chain them
    val adj = s.local(edges
      .withColumn("idx",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
          - lit(1))
      .select(col("src").as("a_src"), col("idx").as("a_idx"),
        col("dst").as("a_dst")))
    val deg = s.local(edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("d_src"), col("deg")))
    val nodes = edges.select(col("src").as("node")).distinct()
    var frontier = s.local(nodes
      .select(col("node"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("rep"))
      .select(concat(col("node"), lit("#"), col("rep")).as("walk_id"),
        col("node")))
    var out = frontier.select(col("walk_id"),
      lit(0).cast("long").as("step"), col("node"))
    for (k <- 1 to length) {
      val picked = frontier
        .join(deg, col("node") === col("d_src"))
        .withColumn("h", expr(s"md5(walk_id || ':$k:' || node)"))
        .withColumn("pick", expr(s"${nibbleValueSql("h")} % deg"))
      // every step's frontier is part of the result (the checkpoint
      // doubles as the output block), so the scope keeps them all; total
      // footprint = the walk corpus itself, walks × (length+1) rows.
      frontier = s.local(picked
        .join(adj, col("node") === col("a_src") && col("pick") === col("a_idx"))
        .select(col("walk_id"), col("a_dst").as("node")))
      out = out.unionByName(frontier.select(col("walk_id"),
        lit(k).cast("long").as("step"), col("node")))
    }
    out
  }

  /** Node2vec second-order walks (Grover & Leskovec, "node2vec: Scalable
    * Feature Learning for Networks", KDD 2016) — the return/in-out biased
    * variant of [[walks]]: at step k ≥ 2, standing on `cur` having come
    * from `prev`, candidate neighbor x draws integer weight
    *   `wReturn` if x == prev   (the 1/p return bias),
    *   `wCommon` if x is also a neighbor of prev (distance 1),
    *   `wFar`    otherwise      (the 1/q in-out bias),
    * and the pick is `H4(walk:k:cur) mod Σweights` resolved against the
    * cumulative-weight ranges of cur's dst-sorted adjacency — bit-exact
    * replayable in oracle SQL like the first-order pick (step 1 IS the
    * first-order pick; node2vec's first transition has no `prev`).
    *
    * Scale shape: the per-(prev,cur) transition table is node2vec's
    * published preprocessing cost — O(Σ_(t,v) deg(v)), the wedge count —
    * built once with one equi-join + one window, partitioned by
    * (prev,cur); each step is then one equi-join against totals plus one
    * (prev,cur)-keyed join whose matching group is deg(cur) rows filtered
    * by the cumulative range. On hub-heavy graphs cap degree first (the
    * standard mitigation — compose with a degree filter or
    * [[TwinGraph.hubTwinIds]]); the table refuses nothing silently. A
    * walk whose every candidate has weight 0 ends early (total 0 rows
    * are dropped), mirroring the dead-end rule of [[walks]].
    */
  def node2vecWalks(relationships: DataFrame, length: Int,
      wReturn: Long, wCommon: Long, wFar: Long,
      walksPerNode: Int = 1): DataFrame = Blocks.scoped { s =>
    require(length >= 1, s"length must be >= 1, got $length")
    require(wReturn >= 0 && wCommon >= 0 && wFar >= 0 &&
      wReturn + wCommon + wFar > 0,
      "weights must be non-negative and not all zero")
    val edges = undirectedEdges(relationships)
    val adj = s.local(edges
      .withColumn("idx",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
          - lit(1))
      .select(col("src").as("a_src"), col("idx").as("a_idx"),
        col("dst").as("a_dst")))
    val deg = s.local(edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("d_src"), col("deg")))
    // (prev, cur, idx, nxt, w, cum_lo, cum_hi, total): cur's neighbors in
    // dst order with cumulative weights; zero-weight rows keep their slot
    // in the cumulative sum (an empty range can never match) but are
    // pruned from the stored table
    val probe = edges.select(col("src").as("p_src"), col("dst").as("p_dst"))
    val weighted = edges
      .select(col("src").as("t_prev"), col("dst").as("t_cur"))
      .join(adj, col("t_cur") === col("a_src"))
      .join(probe,
        col("t_prev") === col("p_src") && col("a_dst") === col("p_dst"),
        "left_outer")
      .select(col("t_prev"), col("t_cur"), col("a_idx"),
        col("a_dst").as("t_nxt"),
        when(col("a_dst") === col("t_prev"), lit(wReturn))
          .when(col("p_dst").isNotNull, lit(wCommon))
          .otherwise(lit(wFar)).as("w"))
    val byPair = Window.partitionBy(col("t_prev"), col("t_cur"))
    val trans = s.local(weighted
      .withColumn("cum_hi", sum(col("w")).over(byPair.orderBy(col("a_idx"))))
      .withColumn("total", sum(col("w")).over(byPair))
      .withColumn("cum_lo", col("cum_hi") - col("w"))
      .filter(col("w") > 0)
      .select(col("t_prev"), col("t_cur"), col("t_nxt"),
        col("cum_lo"), col("cum_hi"), col("total")))
    val totals = s.local(trans.select(col("t_prev").as("tt_prev"),
        col("t_cur").as("tt_cur"), col("total").as("tt_total"))
      .distinct())

    val nodes = edges.select(col("src").as("node")).distinct()
    val start = s.local(nodes
      .select(col("node"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("rep"))
      .select(concat(col("node"), lit("#"), col("rep")).as("walk_id"),
        col("node")))
    var out = start.select(col("walk_id"), lit(0).cast("long").as("step"),
      col("node"))
    // step 1: first-order (no prev yet) — the walks() pick verbatim
    var frontier = s.local(start
      .join(deg, col("node") === col("d_src"))
      .withColumn("h", expr(s"md5(walk_id || ':1:' || node)"))
      .withColumn("pick", expr(s"${nibbleValueSql("h")} % deg"))
      .join(adj, col("node") === col("a_src") && col("pick") === col("a_idx"))
      .select(col("walk_id"), col("node").as("prev"),
        col("a_dst").as("node")))
    out = out.unionByName(frontier.select(col("walk_id"),
      lit(1).cast("long").as("step"), col("node")))
    for (k <- 2 to length) {
      val drawn = frontier
        .join(totals,
          col("prev") === col("tt_prev") && col("node") === col("tt_cur"))
        .withColumn("h", expr(s"md5(walk_id || ':$k:' || node)"))
        .withColumn("r", expr(s"${nibbleValueSql("h")} % tt_total"))
      frontier = s.local(drawn
        .join(trans,
          col("prev") === col("t_prev") && col("node") === col("t_cur") &&
            col("r") >= col("cum_lo") && col("r") < col("cum_hi"))
        .select(col("walk_id"), col("node").as("prev"),
          col("t_nxt").as("node")))
      out = out.unionByName(frontier.select(col("walk_id"),
        lit(k).cast("long").as("step"), col("node")))
    }
    out
  }

  /** Skip-gram training pairs from walk rows: every (center, context)
    * co-occurrence within `window` steps on the same walk, aggregated to
    * pair counts. One self-equi-join on walk_id (walks are short, so the
    * join groups are bounded by length+1 rows) + one combinable count. */
  def skipGramPairs(walkRows: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walkRows.select(col("walk_id"), col("step").as("step_a"),
      col("node").as("center"))
    val b = walkRows.select(col("walk_id"), col("step").as("step_b"),
      col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }
}
