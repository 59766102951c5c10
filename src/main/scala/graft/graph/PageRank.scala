package graft.graph

import graft.core.Blocks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over the relationship graph — the classic
  * link-quality signal a web-scale training-data pipeline uses to weight
  * or filter documents by site authority (Page et al., "The PageRank
  * Citation Ranking", 1999). The reference has no equivalent operator;
  * this belongs to the pipeline-extension surface (SURVEY §2.F), next to
  * degree statistics (`TwinGraph.degrees`).
  *
  * All arithmetic is INTEGER, in rank micro-units (1.0 ≡ 1,000,000):
  * per-edge contribution is `rank div outdeg`, damping is
  * `(85 · Σcontrib) div 100 + 150000`. Integer sums are
  * order-independent, so the result is bit-identical on any engine and
  * any partitioning — float PageRank cannot be hash-compared across
  * engines because summation order perturbs the low bits. Truncation
  * leaks a bounded sliver of mass per iteration (standard for the
  * no-dangling-redistribution formulation); ranks remain a correct
  * relative ordering, which is all the curation signal needs.
  *
  * Scale shape: the loop is K joins/aggregations — contributions shuffle
  * on the edge's source (co-partitioned with the rank table), the sum
  * shuffles on target, both map-side combinable. Per-iteration
  * `localCheckpoint` truncates the iterative-join lineage; the loop's
  * [[graft.core.Blocks.Scope]] frees what the result no longer reads.
  * The three variants share one round body and differ only in the
  * contribution and teleport expressions. Above the [[LocalGraph]]
  * cutoff there is no driver-side state and no adjacency list — hub
  * nodes cost one aggregation bucket, not a task; at or under it,
  * [[ranksHistory]] collects the distinct pairs once and runs the same
  * integer rounds on the driver.
  */
object PageRank {

  /** (node, rank_m) after `iterations` synchronous rounds, nodes = every
    * endpoint of `relationships` (source_id/target_id columns). */
  def ranks(relationships: DataFrame, iterations: Int = 3): DataFrame =
    Blocks.scoped(_ => ranksHistory(relationships, iterations).last)

  /** Like [[ranks]] but returns EVERY iteration's rank table r¹..r^K
    * (each an eager localCheckpoint passed to the caller's scope, or
    * under the [[LocalGraph]] cutoff a local relation) — the
    * maintained state an incremental refresh
    * ([[IncrementalAnalytics.refreshRanks]]) splices unaffected nodes
    * from. Same loop, same integer arithmetic: `ranksHistory(e, k).last`
    * is bit-identical to `ranks(e, k)`. */
  def ranksHistory(relationships: DataFrame, iterations: Int)
      : IndexedSeq[DataFrame] = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val edges = LocalGraph.probeInput(relationships
      .select(col("source_id"), col("target_id")).distinct())
    localHistory(edges, iterations).getOrElse(Blocks.scoped { s =>
      val nodes = s.local(endpoints(edges))
      val outdeg = edges.groupBy(col("source_id"))
        .agg(count(lit(1)).as("outdeg"))
      // edge list annotated with its source's out-degree, materialized once:
      // every iteration re-reads it
      val e = s.local(edges.join(outdeg, Seq("source_id")))
      rounds(s, nodes, e, s.local(nodes.withColumn("rank_m", lit(1000000L))),
        iterations, "rank_m div outdeg", lit(150000L), history = true)
    })
  }

  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("source_id").as("node"))
      .unionByName(edges.select(col("target_id").as("node")))
      .distinct()

  /** The round body all three variants share: `iterations` synchronous
    * rounds from `init` over the annotated edge list `e`, each node's new
    * rank being `teleport + (85 · Σ contribution) div 100` with the
    * per-edge `contribution` expression. Returns every round's rank
    * checkpoint; without `history` each round frees its predecessor. */
  private def rounds(s: Blocks.Scope, nodes: DataFrame, e: DataFrame,
      init: DataFrame, iterations: Int, contribution: String,
      teleport: Column, history: Boolean): IndexedSeq[DataFrame] =
    (1 to iterations).scanLeft(init) { (ranks, _) =>
      val contribs = e
        .join(ranks.select(col("node").as("source_id"), col("rank_m")),
          Seq("source_id"))
        .select(col("target_id").as("node"), expr(contribution).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val next = s.local(nodes.join(contribs, Seq("node"), "left_outer")
        .select(col("node"),
          (teleport + expr("(85 * coalesce(contrib, 0L)) div 100"))
            .as("rank_m")))
      if (!history) s.keep(next, nodes, e)
      next
    }.tail

  /** The sub-cutoff bottom-out of [[ranksHistory]] ([[LocalGraph]]): the
    * distinct pairs collected once, every round solved on the driver
    * ([[LocalGraph.pagerankRounds]]), each returned as a local (node,
    * rank_m) frame. None ⇒ distributed (over the cutoff, a null endpoint,
    * or endpoint columns of differing or non-value-equal types). */
  private def localHistory(edges: DataFrame, iterations: Int)
      : Option[IndexedSeq[DataFrame]] = {
    val dt = edges.schema("source_id").dataType
    if (edges.schema("target_id").dataType != dt) return None
    val spark = edges.sparkSession
    LocalGraph.collectEdgesAny(edges, LocalGraph.maxEdges(spark)).map { es =>
      val (nodes, hist) = LocalGraph.pagerankRounds(es, iterations)
      LocalGraph.roundFrames(spark, dt, "rank_m", nodes, hist)
    }
  }

  /** Weighted PageRank — rank flows in proportion to edge weight
    * (Xing & Ghorbani, "Weighted PageRank Algorithm", CNSR 2004): the
    * per-edge contribution is `(rank_m · w) div sw` with `sw` the
    * source's total out-weight, every other step identical to [[ranks]].
    * Weights are the [[Sssp.weightSql]] id-derived 1..8 integers so the
    * oracle rebuilds the exact weighted multigraph (parallel
    * relationships each carry their own weight); a caller with a real
    * weight column projects it as `w` on the input instead. Same integer
    * determinism and per-iteration checkpoint discipline as [[ranks]]. */
  def weightedRanks(relationships: DataFrame, iterations: Int = 3)
      : DataFrame = Blocks.scoped { s =>
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val hasW = relationships.columns.contains("w")
    val edges = (if (hasW) relationships
        .select(col("source_id"), col("target_id"), col("w").cast("long").as("w"))
      else relationships.select(col("source_id"), col("target_id"),
        expr(Sssp.weightSql("relationship_id")).cast("long").as("w")))
      .distinct()
    val nodes = s.local(endpoints(edges))
    val outw = edges.groupBy(col("source_id")).agg(sum(col("w")).as("sw"))
    val e = s.local(edges.join(outw, Seq("source_id")))
    rounds(s, nodes, e, s.local(nodes.withColumn("rank_m", lit(1000000L))),
      iterations, "(rank_m * w) div sw", lit(150000L), history = false).last
  }

  /** Personalized PageRank — teleports land on a SEED SET instead of
    * uniformly (Haveliwala, "Topic-Sensitive PageRank", WWW 2002; the
    * TrustRank corpus-curation pattern of Gyöngyi et al., VLDB 2004):
    * ranks measure proximity to trusted seeds, so spam farms that
    * self-endorse score near zero no matter their internal link mass.
    * Same integer micro-unit contract as [[ranks]] — total teleport mass
    * is the uniform formulation's `0.15·N·1e6` concentrated on the
    * seeds (`teleport = 150000·N div |S|` each), initial mass likewise,
    * so the two variants are directly comparable and the result stays
    * bit-identical on any engine.
    *
    * Scale shape: identical join/agg loop to [[ranks]] plus one bounded
    * driver scalar (the node count) and a seed-membership `isin` over a
    * small broadcast list — seeds are a curated handful by construction. */
  def personalizedRanks(relationships: DataFrame, sources: Seq[String],
      iterations: Int = 3): DataFrame = Blocks.scoped { s =>
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(sources.nonEmpty, "personalization needs at least one seed")
    val edges = relationships.select(col("source_id"), col("target_id"))
      .distinct()
    val nodes = s.local(endpoints(edges))
    val n = nodes.count()
    val seedInit = 1000000L * n / sources.length
    val teleport = 150000L * n / sources.length
    val isSeed = col("node").isin(sources.map(lit): _*)
    val outdeg = edges.groupBy(col("source_id"))
      .agg(count(lit(1)).as("outdeg"))
    val e = s.local(edges.join(outdeg, Seq("source_id")))
    rounds(s, nodes, e,
      s.local(nodes.withColumn("rank_m", when(isSeed, seedInit).otherwise(0L))),
      iterations, "rank_m div outdeg", when(isSeed, teleport).otherwise(0L),
      history = false).last
  }
}
