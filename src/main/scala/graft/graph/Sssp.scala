package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks

/** Single-source shortest paths over the weighted relationship graph —
  * bounded synchronous Bellman-Ford (the distributed formulation: K
  * rounds of "relax every edge", which is exact once K reaches the hop
  * diameter of the shortest-path tree). Dijkstra's priority queue is a
  * driver-side bottleneck by construction; the round-based relax is all
  * equi-joins and combinable mins, so it scales like [[PageRank]].
  *
  * Weights are INTEGER and derived deterministically from the
  * relationship id (first md5 nibble → 1..8) so the oracle can rebuild
  * the exact weighted graph; a caller with a real weight column passes
  * it pre-projected as `w` instead. Integer min is order-independent →
  * bit-identical distances on any engine/partitioning.
  *
  * Scale shape per round: one equi-join of the current distance table
  * against the edge list (shuffle keyed by node/src, both sides
  * co-partitioned after round 1), one map-side-combinable min. Frontier
  * lineage is truncated per round via `localCheckpoint` in a
  * [[graft.core.Blocks.Scope]], which frees the superseded table.
  */
object Sssp {

  /** SQL text (Spark = DuckDB) for the 1..8 integer weight of a
    * relationship id column. */
  def weightSql(idCol: String): String =
    s"(1 + (instr('0123456789abcdef', substr(md5($idCol), 1, 1)) - 1) % 8)"

  /** Weighted undirected edge view: (src, dst, w) — both directions of
    * every relationship carry the same id-derived weight. */
  def weightedEdges(relationships: DataFrame): DataFrame = {
    val w = expr(weightSql("relationship_id")).cast("long").as("w")
    relationships.select(col("source_id").as("src"),
        col("target_id").as("dst"), w)
      .unionByName(relationships.select(col("target_id").as("src"),
        col("source_id").as("dst"), w))
      .distinct()
  }

  /** (node, dist) for every node reachable from `source` within `rounds`
    * relaxation rounds; exact when `rounds` ≥ the hop count of the
    * longest shortest path. Unreachable nodes are absent (their distance
    * is +∞, which has no honest integer encoding). */
  def distances(relationships: DataFrame, source: String,
                rounds: Int): DataFrame = Blocks.scoped { s =>
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = s.compact(weightedEdges(relationships))
    val spark = relationships.sparkSession
    import spark.implicits._
    (1 to rounds).foldLeft(s.compact(Seq((source, 0L)).toDF("node", "dist"))) {
      (dist, _) =>
        val relaxed = dist
          .join(edges, dist("node") === edges("src"))
          .select(edges("dst").as("node"), (dist("dist") + edges("w")).as("dist"))
        val next = s.compact(dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
        s.keep(next, edges)
        next
    }
  }
}
