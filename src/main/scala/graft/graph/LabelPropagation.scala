package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Blocks
import graft.pipeline.TextAnalysis

/** Synchronous label-propagation community detection (Raghavan, Albert
  * & Kumara, "Near linear time algorithm to detect community structures
  * in large-scale networks", Phys. Rev. E 2007) — the cheap community
  * signal a corpus curator runs over a link graph before sampling per
  * community (domain clusters, spam rings, mirror farms), one level up
  * from connected components: components only merge what is REACHABLE,
  * LPA additionally splits a connected graph along its dense cores.
  *
  * Determinism contract (the usual LPA is randomized; this one is not):
  * labels are [[TextAnalysis.stableId]] 60-bit integers of the node id,
  * rounds are fully synchronous over the frozen previous labelling, the
  * per-node update takes the MOST FREQUENT neighbor label with ties
  * broken by SMALLEST label value — so the fixed round count yields a
  * bit-identical labelling on any engine and partitioning, replayable
  * in SQL round by round. On BIPARTITE structure synchronous updates
  * oscillate with period 2 (noted by Raghavan et al. §3); a fixed round
  * count is therefore a deterministic snapshot of that cycle — callers
  * clustering trees/stars should read two consecutive round counts or
  * use connected components instead.
  *
  * Scale shape per round: one equi-join of the symmetrized edge list
  * against the label table (keyed by neighbor), one combinable
  * groupBy(node, label) count, one groupBy(node) min-of-struct argmax —
  * no windows, and above the [[LocalGraph]] cutoff no driver state.
  * Lineage is truncated per round via `localCheckpoint` in a
  * [[graft.core.Blocks.Scope]], so a deep run neither replays history
  * nor leaks blocks. At or under the cutoff (string
  * keys), the distinct directed pairs are collected once and every round
  * runs on the driver ([[LocalGraph.lpaRounds]]).
  * Reference anchor: the reference exposes AGE/openCypher graph
  * analytics over the twin graph (api/Query.cs:1); community labels are
  * the same graph surface one aggregate further.
  */
object LabelPropagation {

  /** (node, community) after `rounds` synchronous mode-label rounds over
    * the UNDIRECTED (symmetrized, deduplicated) edge set; nodes = every
    * edge endpoint; community = 60-bit label value. */
  def communities(relationships: DataFrame, rounds: Int = 3): DataFrame =
    Blocks.scoped(_ => communitiesHistory(relationships, rounds).last
      .select(col("node"), col("lab").as("community")))

  /** Like [[communities]] but returns EVERY round's (node, lab) table —
    * the maintained state [[IncrementalAnalytics.refreshCommunities]]
    * splices unaffected nodes from. The returned checkpoints pass to the
    * caller's scope (local relations under the [[LocalGraph]] cutoff);
    * `communitiesHistory(r, k).last` carries the labels
    * `communities(r, k)` renames. */
  def communitiesHistory(relationships: DataFrame, rounds: Int)
      : IndexedSeq[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // the probed pairs are the distributed path's input too, so a
    // declined probe's scan and shuffle are not run again
    val pairs = LocalGraph.probeInput(relationships
      .select(col("source_id"), col("target_id")).distinct())
    localHistory(pairs, rounds).getOrElse(Blocks.scoped { s =>
      val fwd = pairs.select(col("source_id").as("node"),
        col("target_id").as("nbr"))
      val edges = s.local(fwd
        .unionByName(fwd.select(col("nbr").as("node"), col("node").as("nbr")))
        .distinct())
      val init = s.local(edges.select(col("node")).distinct()
        .select(col("node"), TextAnalysis.stableId(col("node")).as("lab")))
      (1 to rounds).scanLeft(init) { (labels, _) =>
        val votes = edges
          .join(labels.select(col("node").as("nbr"), col("lab")), Seq("nbr"))
          .groupBy(col("node"), col("lab")).agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc) as one min-of-struct aggregate:
        // struct ordering is lexicographic, so min((-c, lab)) is the most
        // frequent label with the smallest-value tie-break
        s.local(votes
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("m"))
          .select(col("node"), col("m.lab").as("lab")))
      }.tail
    })
  }

  /** The sub-cutoff bottom-out of [[communitiesHistory]] ([[LocalGraph]]):
    * the distinct directed pairs collected once (string keys only — the
    * starting label is the driver-side [[TextAnalysis.stableId]] of the
    * id), symmetrized and voted on the driver, each round returned as a
    * local (node, lab) frame. None ⇒ distributed. */
  private def localHistory(pairs: DataFrame, rounds: Int)
      : Option[IndexedSeq[DataFrame]] = {
    import org.apache.spark.sql.types.StringType
    val spark = pairs.sparkSession
    if (!pairs.schema.fields.forall(_.dataType == StringType)) return None
    LocalGraph.collectEdgesAny(pairs, LocalGraph.maxEdges(spark)).map { es =>
      val (nodes, hist) = LocalGraph.lpaRounds(es,
        n => TextAnalysis.stableId(n.asInstanceOf[String]), rounds)
      LocalGraph.roundFrames(spark, StringType, "lab", nodes, hist)
    }
  }
}
